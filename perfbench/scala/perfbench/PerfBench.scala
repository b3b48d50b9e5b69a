package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Row, SparkSession}

/** Settings of one benchmark run, parsed from `--key value` pairs. */
final case class Conf(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, smoke: Boolean, nproc: Int,
                      sf: String, data: String, fixtures: String,
                      pins: Map[String, String], pinOut: Option[String],
                      report: String, sha: String)

/** One client call: a named operation made of one or more spans. Its
  * outcome is settled after the cycle, when its outputs are checked. */
final class Op(val kind: String) {
  var seconds = 0.0
  var cpuS = 0.0
  var failure: Option[String] = None
}

/** One cycle of a workload, with what was timed and checked in it. */
final class Cycle(val index: Int, val traced: Boolean, val rng: java.util.SplittableRandom) {
  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[SpanRec]()
  var aborted: Option[String] = None
  var storedBytes = 0L
  var leakedRdds = 0
  var seconds = 0.0
  var cpuS = 0.0
  var stealS = 0.0
}

/** Runs the calls of a cycle: times each span from outside, tags its
  * Spark jobs with the span's job group, and, when the cycle is traced,
  * counts the output files the span wrote (Spark's shuffle and
  * checkpoint files are not output). */
final class Runner(val spark: SparkSession, val conf: Conf,
                   val root: File, tracer: Tracer) {
  private val sc = spark.sparkContext
  private[perfbench] var cycle: Cycle = _
  val observed = scala.collection.mutable.LinkedHashMap[String, String]()

  def op[A](kind: String)(body: => A): A = {
    val o = new Op(kind)
    cycle.ops += o
    val cpu0 = Host.cpuS()
    val t0 = System.nanoTime()
    try body
    catch {
      case NonFatal(e) =>
        o.failure = Some(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        throw e
    } finally {
      o.seconds = (System.nanoTime() - t0) / 1e9
      o.cpuS = Host.cpuS() - cpu0
    }
  }

  def span[A](name: String, countFiles: Boolean = false)(body: => A): A = {
    val rec = tracer.open(name)
    cycle.spans += rec
    sc.setJobGroup(rec.group, name)
    val t0 = System.nanoTime()
    try body
    finally {
      rec.wallS = (System.nanoTime() - t0) / 1e9
      rec.endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      if (cycle.traced && countFiles) rec.filesWritten = filesSince(rec.startMs)
    }
  }

  private def filesSince(ms: Long): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (!f.getName.endsWith(".crc") && f.lastModified() >= ms) 1L
      else 0L
    WorkRoot.outputDirs.map(d => walk(new File(root, d))).sum
  }

  /** Compare an output digest with its pin. A mismatch (or a missing
    * pin) fails `owner`; it never aborts the run. */
  def check(owner: Op, name: String, rows: Seq[Row]): Unit = {
    val d = Digest.rows(rows)
    observed(name) = d
    conf.pins.get(name) match {
      case Some(p) if p == d =>
      case Some(p) => fail(owner, s"$name: digest $d, pinned $p")
      case None => fail(owner, s"$name: no pin (digest $d)")
    }
  }

  def fail(owner: Op, why: String): Unit =
    if (owner.failure.isEmpty) owner.failure = Some(why)
}

object Digest {
  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Order-independent digest of a row multiset. */
  def rows(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { l => md.update(l.getBytes(UTF_8)); md.update(10.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

/** A closed-loop workload: one client issues the calls of `cycle` in
  * order, each after the previous one returns. */
trait Workload {
  def setup(r: Runner): Unit = ()
  def cycle(r: Runner): Unit
  /** Checks run after the timed calls of a cycle. */
  def verify(r: Runner): Unit
}

object PerfBench {

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val pins = kv.get("pins").filter(p => new File(p).exists())
      .map(p => Json.mapper.readValue(new File(p), classOf[Map[String, String]]))
      .getOrElse(Map.empty)
    Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv.getOrElse("smoke", "0") == "1",
      kv("nproc").toInt, kv("sf"), kv("data"), kv("fixtures"), pins,
      kv.get("pin-out"), kv("report"), kv("sha"))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val nproc = conf.nproc
    val jvmProcs = Runtime.getRuntime.availableProcessors()
    require(jvmProcs == nproc,
      s"the JVM sees $jvmProcs processors, the process may use $nproc")
    val workload: Workload = conf.workload match {
      case "warehouse_refresh" => new WarehouseRefresh(conf)
      case "corpus_select" => new CorpusSelect(conf)
      case "vector_store" => new VectorStore(conf)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val root = new File(".").getCanonicalFile
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(root, "spark-warehouse").getPath)
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(root, "ckpt").getPath)
    Host.mark("session ready")
    warmEngine(spark, new File(root, "warm-up"))
    Host.mark("engine warm")
    val tracer = new Tracer(spark)
    val r = new Runner(spark, conf, root, tracer)
    val report = try run(r, workload, tracer)
    finally spark.stop()
    val env = Map(
      "git_sha" -> conf.sha, "nproc" -> nproc.toString, "master" -> s"local[$nproc]",
      "shuffle_partitions" -> nproc.toString, "sf" -> conf.sf,
      "seed" -> conf.seed.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> org.apache.spark.SPARK_VERSION)
    Json.mapper.writeValue(new File(conf.report), report + ("env" -> env))
    conf.pinOut.foreach(p => Json.mapper.writeValue(new File(p), r.observed.toMap))
  }

  /** Untimed set-up: one small job through each engine path the
    * workloads share (a shuffle aggregate, a parquet write and read, a
    * join, an AvailableNow micro-batch), so that the first timed call of
    * a run does not alone pay for loading and compiling the engine. */
  private def warmEngine(spark: SparkSession, dir: File): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val path = new File(dir, "t").getPath
    val df = spark.range(0, 10000).select((col("id") % 97).as("k"), col("id").as("v"))
    df.groupBy("k").agg(sum("v").as("s")).write.parquet(path)
    val t = spark.read.parquet(path)
    t.join(df, "k").count()
    spark.readStream.schema(t.schema).parquet(path).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new File(dir, "ckpt").getPath)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => b.count(); () }
      .start().awaitTermination()
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally status.close()
  }

  /** Persistent RDDs the benchmark itself holds are not leaks. */
  private var ownRdds = Set.empty[Int]

  private def runCycle(r: Runner, w: Workload, c: Cycle): Unit = {
    r.cycle = c
    val sc = r.spark.sparkContext
    WorkRoot.wipe(r.root)
    val steal0 = Host.stealS()
    val cpu0 = Host.cpuS()
    val t0 = System.nanoTime()
    try w.cycle(r)
    catch { case NonFatal(e) => c.aborted = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    c.seconds = (System.nanoTime() - t0) / 1e9
    c.cpuS = Host.cpuS() - cpu0
    c.stealS = Host.stealS() - steal0
    c.storedBytes = WorkRoot.cycleDirs.map(d => WorkRoot.size(new File(r.root, d))).sum
    r.spark.catalog.clearCache()
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !ownRdds(id) }
    c.leakedRdds = leaked.size
    leaked.values.foreach(_.unpersist(blocking = true))
  }

  private def run(r: Runner, w: Workload, tracer: Tracer): Map[String, Any] = {
    val conf = r.conf
    val sc = r.spark.sparkContext
    val rngs = new java.util.SplittableRandom(conf.seed)
    w.setup(r)
    Host.mark("workload set up")
    ownRdds = sc.getPersistentRDDs.keySet.toSet
    // An untraced run measures one cycle, the first in a fresh process,
    // as a daily batch job or a restarted store meets it: a warm-up
    // cycle plus a measured one per run would not fit the run budget on
    // a 4-core host. A trace run first runs one untimed cycle, so that
    // its untraced and traced cycles are both warm and their ratio is
    // the tracing overhead; it then measures untraced/traced pairs while
    // the next pair fits in the window.
    if (conf.trace) {
      val warm = new Cycle(0, traced = false, rngs.split())
      runCycle(r, w, warm)
      warm.aborted.foreach(a => throw new IllegalStateException(s"warm-up cycle failed: $a"))
    }
    // set-up is charged like the cycle, in CPU seconds of the process
    // (from JVM start), and also reported as wall time
    val setupCpuS = Host.cpuS()
    val setupWallS = Host.sinceStartS()
    val cycles = ArrayBuffer[Cycle]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def fits = elapsed + 2 * cycles.map(_.seconds).max <= conf.seconds
    while (cycles.isEmpty || (conf.trace && (cycles.length % 2 == 1 || fits))) {
      val traced = conf.trace && cycles.length % 2 == 1
      if (traced) tracer.attach()
      val c = new Cycle(cycles.length + 1, traced, rngs.split())
      runCycle(r, w, c)
      if (traced) tracer.detach()
      if (c.aborted.isEmpty) {
        try w.verify(r)
        catch { case NonFatal(e) => c.aborted = Some(s"check: ${e.getMessage}") }
      }
      cycles += c
    }
    Map(
      "workload" -> conf.workload, "setup_cpu_s" -> setupCpuS,
      "setup_wall_s" -> setupWallS,
      "peak_rss_mb" -> peakRssMb(),
      "cycles" -> cycles.map { c =>
        Map[String, Any](
          "index" -> c.index, "traced" -> c.traced, "seconds" -> c.seconds,
          "cpu_s" -> c.cpuS, "steal_s" -> c.stealS,
          "aborted" -> c.aborted.orNull,
          "stored_bytes" -> c.storedBytes, "leaked_rdds" -> c.leakedRdds,
          "ops" -> c.ops.map(o => Map[String, Any](
            "kind" -> o.kind, "seconds" -> o.seconds, "cpu_s" -> o.cpuS,
            "failure" -> o.failure.orNull)).toList,
          "spans" -> c.spans.map { s =>
            Map[String, Any](
              "name" -> s.name, "wall_s" -> s.wallS,
              "jobs" -> s.jobIntervals.length, "tasks" -> s.tasks,
              "job_busy_s" -> s.busySeconds,
              "shuffle_bytes" -> s.shuffleBytes, "plan_ms" -> s.planMs,
              "files_written" -> s.filesWritten, "rows_read" -> s.rowsRead,
              "results" -> s.results)
          }.toList)
      }.toList)
  }
}

/** The work root: the JVM's working directory, wiped per run. */
object WorkRoot {
  /** Everything a cycle writes lives under these children of the work
    * root; each cycle starts without them (a fresh lake root). */
  val cycleDirs = Seq("target", "lake", "export", "ckpt", "spark-warehouse")
  /** The cycle directories the program writes its output to. */
  val outputDirs = cycleDirs.filterNot(_ == "ckpt")

  def wipe(root: File): Unit =
    cycleDirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new File(root, d)))

  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
    else f.length()

}

/** Clocks of the JVM process and its host. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by all threads of this process (task threads,
    * the driver, the JIT compiler, the collector). With paravirtual
    * time accounting it excludes steal time: the time a virtual CPU
    * was runnable but the host ran something else. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the JVM started. */
  def sinceStartS(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Log a set-up step with its wall and CPU time since the JVM started. */
  def mark(step: String): Unit =
    System.err.println(f"[perfbench] $step at ${sinceStartS()}%.2f s, cpu ${cpuS()}%.2f s")

  /** Steal seconds summed over the machine's CPUs, from /proc/stat
    * (USER_HZ ticks); 0 where the kernel does not report it. */
  def stealS(): Double = {
    val stat = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = stat.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } finally stat.close()
  }
}

/** The report writer and pin-file reader: Jackson from the Spark jars. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
}
