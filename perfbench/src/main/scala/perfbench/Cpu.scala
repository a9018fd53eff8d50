package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** CPU time of this JVM as the kernel accounts it: the time its threads
  * actually ran. On a virtual machine whose host is shared, the time the
  * host takes a virtual CPU away (steal) is not counted, so the figure
  * does not swing with the neighbours' load the way wall time does.
  *
  * `program` leaves out the JIT compiler threads: how much they compile
  * inside a window follows the compile queue, not the window's work. */
object Cpu {
  final case class Sample(processNs: Long, compilerNs: Long) {
    def programNs: Long = processNs - compilerNs
    def -(o: Sample): Sample = Sample(processNs - o.processNs, compilerNs - o.compilerNs)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tasks = Paths.get("/proc/self/task")

  /** Run time of one thread in ns (the first field of its schedstat). */
  private def runNs(task: Path): Long =
    Try(Files.readString(task.resolve("schedstat")).trim.split(' ')(0).toLong).getOrElse(0L)

  private def isCompiler(task: Path): Boolean =
    Try(Files.readString(task.resolve("comm"))).toOption.exists(c =>
      c.startsWith("C1 CompilerThre") || c.startsWith("C2 CompilerThre"))

  /** CPU ns of the JIT compiler threads so far. Needs compiler threads
    * that live as long as the JVM (`-XX:-UseDynamicNumberOfCompilerThreads`),
    * or a thread that exits takes its time out of the sum. */
  def compilerNs(): Long = {
    val s = Files.list(tasks)
    try s.iterator().asScala.filter(isCompiler).map(runNs).sum
    finally s.close()
  }

  def sample(): Sample = Sample(os.getProcessCpuTime, compilerNs())

  /** Runs `body` and returns its result with the CPU it took. */
  def timed[T](body: => T): (T, Sample) = {
    val c0 = sample()
    val r = body
    (r, sample() - c0)
  }
}
