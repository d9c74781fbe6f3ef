package graft.perfbench

object Stats {
  /** Median; NaN for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Contamination telemetry: cumulative CPU jiffies (total, steal)
  * from /proc/stat and the 1-minute load average. Diagnostic only —
  * it marks a noisy run, it gates nothing. */
final case class Telemetry(total: Long, steal: Long, load1: Double, atMs: Long) {
  def json: java.util.Map[String, Any] = Json.obj("cpu_jiffies" -> total,
    "steal_jiffies" -> steal, "load1" -> Json.num(load1), "epoch_ms" -> atMs)
}

object Telemetry {
  private def read(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    catch { case _: java.io.IOException => "" }

  def sample(): Telemetry = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val load = read("/proc/loadavg").split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    Telemetry(cpu.sum, if (cpu.length > 7) cpu(7) else 0L, load, System.currentTimeMillis())
  }

  /** CPU seconds used by every thread of this JVM so far. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The JVM's own threads: JIT compilers, garbage collector, VM
    * thread, by their Linux thread names. */
  private val JvmThread = "(C1 CompilerThre|C2 CompilerThre|GC Thread|G1 |VM Thread|VM Periodic|Sweeper).*".r

  /** CPU ms so far of each live JVM-own thread, by thread id, from
    * /proc/self/task (utime + stime, in 10 ms clock ticks). */
  def jvmThreadCpuMs(): Map[String, Long] = {
    val tasks = new java.io.File("/proc/self/task").list()
    if (tasks == null) Map.empty
    else tasks.toSeq.flatMap { tid =>
      val stat = read(s"/proc/self/task/$tid/stat")
      val close = stat.lastIndexOf(')')
      if (close < 0) None
      else stat.substring(stat.indexOf('(') + 1, close) match {
        case JvmThread(_*) =>
          val f = stat.substring(close + 2).split(' ')
          Some(tid -> (f(11).toLong + f(12).toLong) * 10L)
        case _ => None
      }
    }.toMap
  }

  /** The program's CPU ms between two samples of (process CPU s,
    * [[jvmThreadCpuMs]]): the process's CPU less its JIT, GC and VM
    * threads'. Unlike a sum over live Java threads, it keeps the CPU of
    * threads that end in between, such as a streaming query's. */
  def programCpuMs(before: (Double, Map[String, Long]), after: (Double, Map[String, Long])): Double =
    (after._1 - before._1) * 1000 -
      after._2.iterator.map { case (tid, ms) => ms - before._2.getOrElse(tid, 0L) }.sum

  /** The JVM's peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

/** A fixed reference computation, timed beside every op so that an op's
  * CPU can be read against the speed the host gave the run at that
  * moment: each of `Main.Cores` threads sorts its own copy of the same
  * fixed array. It runs no program code, so no change to the program
  * moves it. */
object Reference {
  private val Data: Array[Long] = {
    val r = new java.util.SplittableRandom(42L)
    Array.fill(1 << 19)(r.nextLong())
  }

  /** The reference's CPU ms now, summed over its threads. */
  def cpuMs(): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val ns = new java.util.concurrent.atomic.AtomicLong
    val threads = Seq.fill(Main.Cores)(new Thread(() => {
      val t0 = bean.getCurrentThreadCpuTime
      java.util.Arrays.sort(Data.clone())
      ns.addAndGet(bean.getCurrentThreadCpuTime - t0)
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    ns.get / 1e6
  }
}

/** The run record is built from nested java.util maps and lists and
  * written with the Jackson that ships in Spark's jars. */
object Json {
  import scala.jdk.CollectionConverters._
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def arr(xs: Seq[Any]): java.util.List[Any] = new java.util.ArrayList[Any](xs.asJava)
  /** NaN and infinities as null: every number read back is finite. */
  def num(d: Double): Any = if (d.isNaN || d.isInfinite) null else d
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
