package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run hands back. `fixtureS` holds the repeated
  * set-up builds, `onceS` the one-time set-up after them (the analytics
  * warm-up query; the ingest bus pre-load and drain). `human` holds the
  * workload's own end-to-end metrics as (name, value, unit, sample
  * count); `layers` the per-layer metrics (traced run only); `check`
  * whatever the out-of-JVM correctness check needs. */
final case class Outcome(
    fixtureS: Seq[Double], onceS: Double, measuredS: Double, cpuS: Double,
    attempted: Long, failed: Long, errors: Seq[String],
    throughputPerS: Double, latencyMs: Seq[Double],
    human: Seq[(String, Double, String, Long)],
    layers: Map[String, Double], check: Map[String, Any])

/** Everything a workload needs: the session, its own catalog (registered
  * under a per-run name with its warehouse inside the run directory), the
  * tracer and, in traced runs, the harness listener. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val listener: Option[LayerListener], val runDir: Path, val dataDir: String,
    val catalog: String, val seed: Long, val seconds: Double,
    val params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def warehouse: Path = runDir.resolve("warehouse")
  def tableDir(t: String): String = warehouse.resolve(t).toString
  def sql(s: String) = spark.sql(s)

  /** The measured region: run `round` (a lap or pass, numbered from 0)
    * `rounds` times. The count is fixed per workload, never taken from
    * how fast the rounds run, so every run measures the same work. The
    * listener, if any, is registered here so its totals cover exactly this
    * region. Returns (wall s, JVM process CPU s). */
  def measure(rounds: Int)(round: Int => Unit): (Double, Double) = {
    listener.foreach(spark.sparkContext.addSparkListener)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (t0, cpu0) = (System.nanoTime(), os.getProcessCpuTime)
    (0 until rounds).foreach(round)
    ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9)
  }

  def drainListener(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = Paths.get(a("run")).toAbsolutePath
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val hostBefore = host(cores)
    val t0 = System.nanoTime()
    val catalog = "pb_" + runDir.getFileName.toString.replaceAll("[^A-Za-z0-9]", "_")
    val spark = session(runDir, cores, catalog)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, new Tracer(trace), if (trace) Some(new LayerListener) else None,
      runDir, a("data"), catalog, a("seed").toLong, a("seconds").toDouble, a)
    val out = a("workload") match {
      case "ingest_dml" => IngestDml.run(ctx)
      case "analytics" => Analytics.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val sparkLayers = ctx.listener.map { l =>
      ctx.drainListener()
      val t = l.totals
      val cpuS = t.cpuNs / 1e9
      Map("spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
        "spark.tasks" -> t.tasks.toDouble, "spark.task_cpu_s" -> cpuS,
        "spark.cpu_util" -> cpuS / (out.measuredS * cores), "spark.gc_s" -> t.gcMs / 1e3,
        "spark.shuffle_bytes" -> t.shuffleBytes.toDouble,
        "spark.bytes_written" -> t.outputBytes.toDouble)
    }.getOrElse(Map.empty)
    if (trace) Json.writeSpans(runDir.resolve("spans.jsonl"), ctx.tracer)
    spark.stop()
    val hostAfter = host(cores)
    val hostLayers = for ((k, v) <- hostBefore ++ hostAfter.map { case (k, v) => (k + "_after", v) })
      yield s"host.$k" -> v
    val result = Map(
      "session_s" -> sessionS, "fixture_s" -> out.fixtureS, "once_s" -> out.onceS,
      "measured_s" -> out.measuredS, "attempted" -> out.attempted, "failed" -> out.failed,
      "errors" -> out.errors.take(20), "throughput_per_s" -> out.throughputPerS,
      "latency_ms" -> out.latencyMs,
      "human" -> out.human.map { case (n, v, u, c) =>
        Map("name" -> n, "value" -> v, "unit" -> u, "n" -> c) },
      "layers" -> (out.layers ++ sparkLayers ++ hostLayers),
      "check" -> out.check, "peak_rss_mb" -> peakRssMb, "cpu_s" -> out.cpuS)
    Files.writeString(runDir.resolve("result.json"), Json(result))
  }

  def session(runDir: Path, cores: Int, catalog: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.sources.GraftExtensions].getName)
      .config(s"spark.sql.catalog.$catalog", classOf[graft.sources.GraftCatalog].getName)
      .config(s"spark.sql.catalog.$catalog.warehouse", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Host stamp sized to this run's core count. */
  def host(cores: Int): Map[String, Double] = {
    val (loopMs, effCores) = graft.HostProbe.cpu(cores)
    Map("loop_ms" -> loopMs.toDouble, "eff_cores" -> effCores,
      "dio_w_mbps" -> graft.HostProbe.directIoWriteMbps(16))
  }
}

/** Files under a directory, keyed by inode. The store hard-links files it
  * did not write (carried delete slices, all-insert changelog slices,
  * clones), so what a commit wrote is the inodes that are new since a
  * snapshot, each counted once, plus growth of files written in place. */
object Fs {
  final case class File(paths: Seq[String], size: Long)
  type Snapshot = Map[AnyRef, File]

  def snapshot(dir: Path): Snapshot =
    if (!Files.exists(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.flatMap { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        if (a.isRegularFile) Some((a.fileKey: AnyRef, dir.relativize(p).toString, a.size)) else None
      }.toSeq.groupBy(_._1).map { case (k, fs) => k -> File(fs.map(_._2), fs.head._3) }
      finally st.close()
    }

  /** Files and bytes written between two snapshots of one directory. */
  final case class Added(files: Seq[File], bytes: Long)

  def added(before: Snapshot, after: Snapshot): Added = {
    var grown = 0L
    val fresh = after.toSeq.flatMap { case (k, f) =>
      before.get(k) match {
        case None => Some(f)
        case Some(b) => grown += math.max(0L, f.size - b.size); None
      }
    }
    Added(fresh, fresh.map(_.size).sum + grown)
  }

  /** A table's data files (`v<N>/...parquet`, delete slices included),
    * as against its changelog slices (`_changes/...`). A changelog slice
    * linked to a data file of the same commit counts as data only. */
  def isData(f: File): Boolean = f.paths.exists(_.matches("v\\d+/.*\\.parquet"))
  def isChangelog(f: File): Boolean = !isData(f) && f.paths.exists(_.startsWith("_changes"))

  def versions(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val vs = Files.list(root)
      try vs.iterator().asScala.count(_.getFileName.toString.matches("v\\d+")).toLong
      finally vs.close()
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def writeSpans(path: Path, t: Tracer): Unit = {
    val all = t.spans
    val self = t.selfMs(all)
    Files.write(path, all.map(s => apply(Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.opId, "thread" -> s.thread,
      "start_us" -> s.startUs, "end_us" -> s.endUs,
      "self_ms" -> self(s.id)))).asJava)
  }
}
