package perfbench

import scala.collection.mutable

import graft.sources.GraftStore
import graft.streaming.{FrameBus, FrameBusSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** One client driving the versioned store through both of its write
  * surfaces: SQL DML and streaming ingest.
  *
  * Two tables are built from `events`: a copy-on-write table and its
  * `merge_mode='mor'` twin, both `days(ts)` partitioned and bucketed on
  * `event_id`, each with one materialized view. The client walks a fixed
  * lap of statements (see [[Lap]]) in whole laps; the seed draws every
  * statement's keys, days, values and messages.
  *
  * The `ingest` step is the streaming path: it appends a batch of upsert
  * messages to the [[Sink]] twin's FrameBus (topic = event_type, key =
  * event_id, value = cents|ts|user_id|seq), then a Trigger.AvailableNow
  * query over the bus with `maxOffsetsPerTrigger` = `ingest_msgs` drains
  * them in one epoch, which keeps the latest message per key (by seq) and
  * MERGEs it into the twin. Before the measured region the bus is
  * pre-loaded with the generated backlog (`bus_preload.parquet`) and
  * drained once, so every lap's source polls and reads walk a long log, as
  * a long-running bus's would.
  *
  * Each statement is logged with its parameters and result, so an
  * independent replay can check every read and both twins' final
  * contents. */
object IngestDml {
  /** The twin the stream feeds: streaming upserts land on merge-on-read. */
  val Sink = "mor"
  /** One lap of (statement kind, twin): streaming ingest, SQL writes on
    * both twins, a view refresh after the write burst, reads of every kind
    * (on both twins but the refreshed view) and a compaction. */
  val Lap: Seq[(String, String)] = Seq("ingest" -> Sink, "point" -> "mor",
    "merge" -> "cow", "point" -> "cow", "day" -> "cow", "update" -> "mor",
    "day" -> "mor", "delete" -> "cow", "refresh" -> "cow", "changes" -> "mor",
    "mv" -> "cow", "insert" -> "mor", "changes" -> "cow", "optimize" -> "mor")
  val Writes = Set("ingest", "insert", "merge", "update", "delete", "refresh", "optimize")
  val Types = Seq("signup", "click", "error", "view", "purchase")

  def run(c: Ctx): Outcome = {
    val buckets = c.int("buckets")
    val insertRows = c.int("insert_rows")
    val mergeRows = c.int("merge_rows")
    val ingestMsgs = c.int("ingest_msgs")
    val days = c.int("days")
    val cat = c.catalog
    graft.Tables.events(c.spark, c.dataDir).createOrReplaceTempView("pb_events")
    val baseRows = c.spark.table("pb_events").count()

    def build(suffix: String): Unit = Seq("cow", "mor").foreach { mode =>
      val t = s"ev_${mode}_$suffix"
      c.sql(s"""CREATE TABLE $cat.$t (event_id BIGINT NOT NULL, ts TIMESTAMP,
        user_id BIGINT, event_type STRING, cents BIGINT) USING graft
        PARTITIONED BY (days(ts))
        TBLPROPERTIES ('merge_key'='event_id', 'buckets'='$buckets',
          'merge_mode'='$mode')""")
      c.sql(s"""INSERT INTO $cat.$t SELECT event_id, ts, user_id, event_type,
        CAST(round(value * 100) AS BIGINT) FROM pb_events""")
    }
    // three builds of the twins, the last one used; the first (cold) one
    // doubles as the warm-up, so the median is a warm build
    val fixtureS = (1 to 3).map { r =>
      val t0 = System.nanoTime(); build(s"r$r"); (System.nanoTime() - t0) / 1e9
    }
    val table = Map("cow" -> "ev_cow_r3", "mor" -> "ev_mor_r3")
    val mv = Map("cow" -> "mv_cow", "mor" -> "mv_mor")
    val bus = c.runDir.resolve("bus").toString
    val version, baseVersion = mutable.Map("cow" -> 0L, "mor" -> 0L)
    def refreshVersion(m: String): Long = {
      version(m) = GraftStore.currentVersion(c.tableDir(table(m))); version(m)
    }

    /** The streaming epoch: keep the latest message per key, MERGE it
      * into the sink twin and note when the commit ended. */
    def epoch(commitEndUs: mutable.Map[Long, Long])(df: DataFrame, batchId: Long): Unit = {
      val v = split(col("value").cast("string"), "\\|")
      df.groupBy(col("key").cast("long").as("event_id"))
        .agg(max_by(struct(v(0).cast("long").as("cents"), v(1).cast("timestamp").as("ts"),
          v(2).cast("long").as("user_id"), col("topic").as("event_type")),
          v(3).cast("long")).as("r"))
        .select(col("event_id"), col("r.*"))
        .createOrReplaceTempView("pb_epoch")
      c.tracer.span("commit.ingest_merge", batchId) {
        df.sparkSession.sql(s"""MERGE INTO $cat.${table(Sink)} t USING pb_epoch s
          ON t.event_id = s.event_id
          WHEN MATCHED THEN UPDATE SET cents = s.cents, ts = s.ts,
            user_id = s.user_id, event_type = s.event_type
          WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, event_type, cents)
            VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.cents)""")
      }
      commitEndUs(batchId) = Clock.nowUs
    }

    /** Drain the bus with a Trigger.AvailableNow query (one checkpoint for
      * the whole run). Returns the progress of each epoch and the end time
      * of its commit. */
    def drain(maxOffsets: Option[Int]): (Seq[StreamingQueryProgress], Map[Long, Long]) = {
      val commitEndUs = mutable.Map.empty[Long, Long]
      val src = c.spark.readStream.format("graft.streaming.FrameBusProvider").option("busDir", bus)
      maxOffsets.foreach(n => src.option("maxOffsetsPerTrigger", n.toString))
      val q = src.load().writeStream.foreachBatch(epoch(commitEndUs) _)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", c.runDir.resolve("ckpt").toString).start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      (q.recentProgress.toSeq.filter(_.numInputRows > 0), commitEndUs.toMap)
    }

    def append(msgs: Seq[(String, String, String)], dueUs: Long): Unit =
      msgs.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (topic, ms) =>
        c.tracer.span("bus.append", spark = false) {
          FrameBus.appendTopic(bus, topic, ms.map { case (_, k, v) => (dueUs, k, v.getBytes("UTF-8")) })
        }
      }

    val history = mutable.Map("cow" -> mutable.ArrayBuffer.empty[Long],
      "mor" -> mutable.ArrayBuffer.empty[Long])

    var seq = 0L
    val rng = new scala.util.Random(c.seed)
    var nextKey = 1000000000L
    val inserted = mutable.ArrayBuffer.empty[Long]
    def day(): String = java.time.LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(days)).toString
    def ts(): String = f"${day()} ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d"
    def someKey(): Long =
      if (inserted.nonEmpty && rng.nextInt(4) == 0) inserted(rng.nextInt(inserted.size))
      else rng.nextLong(baseRows)
    def newKey(): Long = { nextKey += 1; inserted += nextKey; nextKey }
    def dayPred(d: String) =
      s"ts >= TIMESTAMP'$d 00:00:00' AND ts < TIMESTAMP'$d 00:00:00' + INTERVAL 1 DAY"
    /** `n` upsert rows (event_id, cents, ts, user_id, event_type) on distinct
      * keys, a quarter of them new. */
    def upserts(n: Int): Seq[Seq[Any]] = {
      val old = Iterator.continually(someKey()).distinct.take(n - n / 4).toSeq
      (old ++ Seq.fill(n / 4)(newKey())).map(k => Seq(k, rng.nextLong(50000), ts(), rng.nextLong(2000),
        Types(rng.nextInt(5))))
    }

    val log = mutable.ArrayBuffer.empty[Map[String, Any]]
    val writeMs, readMs, visibleMs = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val errors = mutable.ArrayBuffer.empty[String]
    var userBytes = 0L
    var failed = 0L
    val scanPlan, scanFiles, scanPrune, scanRows = mutable.ArrayBuffer.empty[Double]
    /** The last read's plan and row count, for the scan counters that
      * [[stmt]] takes once the read's timing has ended. */
    var lastRead: Option[(DataFrame, Int)] = None

    /** Run one statement: time it, log it, keep its result. */
    def stmt(m: String, kind: String, span: String, fields: Map[String, Any])(
        body: => Any): Unit = {
      val i = log.size.toLong
      val dir = java.nio.file.Paths.get(c.tableDir(table(m)))
      val before = if (c.tracer.on && Writes(kind)) Some(Fs.snapshot(dir)) else None
      val t0 = System.nanoTime()
      val res = try Right(c.tracer.span(span, i)(body))
        catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      (if (Writes(kind)) writeMs else readMs) += ms
      lastRead.foreach { case (df, n) =>
        val s = Layers.scan(df)
        scanPlan += s.planMs; scanFiles += s.filesRead.toDouble
        scanPrune += s.filesRead / math.max(1.0, Layers.liveFiles(c, table(m)).toDouble)
        scanRows += s.rowsRead / math.max(1.0, n.toDouble)
      }
      lastRead = None
      before.foreach { b =>
        val fresh = Fs.added(b, Fs.snapshot(dir)).files
        val data = fresh.filter(Fs.isData)
        c.tracer.count(s"$kind.files_added", data.size.toDouble)
        c.tracer.count(s"$kind.bytes_written", data.map(_.size).sum.toDouble)
        c.tracer.count(s"$kind.changelog_bytes", fresh.filter(Fs.isChangelog).map(_.size).sum.toDouble)
      }
      val entry = mutable.Map[String, Any]("i" -> i, "t" -> m, "kind" -> kind, "ms" -> ms) ++ fields
      res match {
        case Right(r) => entry("result") = r
        case Left(e) => entry("error") = e.toString; errors += s"$kind on $m: $e"; failed += 1
      }
      if (Writes(kind) && kind != "refresh") {
        entry("version") = refreshVersion(m)
        if (kind != "optimize") history(m) += version(m)
      }
      log += entry.toMap
    }

    def read(sql: String): Seq[Seq[Any]] = {
      val df = c.sql(sql)
      val rows = df.collect().toSeq.map(_.toSeq)
      if (c.tracer.on) lastRead = Some((df, rows.size))
      rows
    }

    def ingest(): Unit = {
      val rows = upserts(ingestMsgs)
      val msgs = rows.map { case Seq(k, v, s, u, e) =>
        seq += 1; (e.toString, k.toString, s"$v|$s|$u|$seq") }
      userBytes += msgs.map { case (_, k, v) => 12 + k.length + v.length }.sum
      stmt(Sink, "ingest", "ingest", Map("rows" -> rows)) {
        val dueUs = Clock.nowUs
        append(msgs, dueUs)
        val (prog, commitEndUs) = drain(Some(ingestMsgs))
        progress ++= prog
        if (c.tracer.on) c.tracer.span("source.latest_counts", spark = false) {
          FrameBusSource.latestCounts(bus)
        }
        visibleMs ++= commitEndUs.values.map(end => (end - dueUs) / 1000.0)
        commitEndUs.size
      }
    }

    def write(m: String, kind: String): Unit = {
      val t = s"$cat.${table(m)}"
      kind match {
        case "ingest" => ingest()
        case "insert" =>
          val rows = Seq.fill(insertRows) {
            Seq(newKey(), ts(), rng.nextLong(2000), Types(rng.nextInt(5)), rng.nextLong(50000))
          }
          val values = rows.map { case Seq(k, s, u, e, v) => s"($k, TIMESTAMP'$s', $u, '$e', $v)" }
          userBytes += values.map(_.length).sum
          stmt(m, kind, "commit.insert", Map("rows" -> rows)) {
            c.sql(s"INSERT INTO $t VALUES ${values.mkString(", ")}"); 0
          }
        case "merge" =>
          val keys = Iterator.continually(someKey()).distinct.take(mergeRows).toSeq
          val rows = keys.map { k =>
            Seq(k, rng.nextLong(50000), if (rng.nextInt(4) == 0) "d" else "u", ts(),
              rng.nextLong(2000), Types(rng.nextInt(5)))
          }
          val values = rows.map { case Seq(k, v, op, s, u, e) =>
            s"($k, $v, '$op', TIMESTAMP'$s', $u, '$e')" }
          userBytes += values.map(_.length).sum
          stmt(m, kind, "commit.merge", Map("rows" -> rows)) {
            c.sql(s"""MERGE INTO $t t USING (SELECT * FROM VALUES ${values.mkString(", ")}
              AS v(event_id, cents, op, ts, user_id, event_type)) c
              ON t.event_id = c.event_id
              WHEN MATCHED AND c.op = 'd' THEN DELETE
              WHEN MATCHED THEN UPDATE SET cents = c.cents
              WHEN NOT MATCHED AND c.op = 'u' THEN INSERT
                (event_id, ts, user_id, event_type, cents)
                VALUES (c.event_id, c.ts, c.user_id, c.event_type, c.cents)""")
            0
          }
        case "update" =>
          val (d, r, delta) = (day(), rng.nextInt(7), 1 + rng.nextInt(500))
          stmt(m, kind, "commit.update", Map("day" -> d, "mod" -> 7, "r" -> r, "delta" -> delta)) {
            c.sql(s"UPDATE $t SET cents = cents + $delta WHERE ${dayPred(d)} AND user_id % 7 = $r"); 0
          }
        case "delete" =>
          val (d, r) = (day(), rng.nextInt(13))
          stmt(m, kind, "commit.delete", Map("day" -> d, "mod" -> 13, "r" -> r)) {
            c.sql(s"DELETE FROM $t WHERE ${dayPred(d)} AND user_id % 13 = $r"); 0
          }
        case "refresh" =>
          stmt(m, kind, "mv.refresh", Map.empty) {
            c.sql(s"CALL $cat.refresh_mv(view => '${mv(m)}')").head().getString(1)
          }
        case "optimize" =>
          if (c.tracer.on) c.tracer.count("maint.files_per_slot_before",
            Stats.mean(Layers.slotFiles(c, table(m))))
          stmt(m, kind, "maint.optimize", Map.empty) {
            c.sql(s"CALL $cat.optimize(table => '${table(m)}')").collect(); 0
          }
          if (c.tracer.on) c.tracer.count("maint.files_per_slot_after",
            Stats.mean(Layers.slotFiles(c, table(m))))
      }
    }

    def readOp(m: String, kind: String): Unit = kind match {
      case "point" =>
        val k = someKey()
        stmt(m, kind, "read.point", Map("key" -> k)) {
          read(s"""SELECT event_id, date_format(ts, 'yyyy-MM-dd HH:mm:ss'), user_id,
            event_type, cents FROM $cat.${table(m)} WHERE event_id = $k""")
        }
      case "day" =>
        val d = day()
        stmt(m, kind, "read.day", Map("day" -> d)) {
          read(s"""SELECT COUNT(*), COALESCE(SUM(cents), 0) FROM $cat.${table(m)}
            WHERE ${dayPred(d)}""")
        }
      case "changes" =>
        val h = history(m)
        val hi = version(m)
        val lo = if (h.size > 4) h(h.size - 5) else baseVersion(m)
        stmt(m, kind, "changes.read", Map("lo" -> lo, "hi" -> hi)) {
          c.sql(s"""SELECT change_op, COUNT(*) FROM $cat.`${table(m)}$$changes`
            WHERE change_version > $lo AND change_version <= $hi
            GROUP BY change_op ORDER BY change_op""").collect().toSeq.map(_.toSeq)
        }
      case "mv" =>
        stmt(m, kind, "read.mv", Map.empty) {
          c.sql(s"SELECT event_type, n, s FROM $cat.${mv(m)} ORDER BY event_type")
            .collect().toSeq.map(_.toSeq)
        }
    }

    // the views, then the backlog, drained in one epoch: its messages are
    // not in key order across topics, so only a single epoch keeps the
    // latest per key
    val p0 = System.nanoTime()
    Seq("cow", "mor").foreach { m =>
      c.sql(s"""CREATE MATERIALIZED VIEW $cat.${mv(m)} AS
        SELECT event_type, COUNT(*) AS n, SUM(cents) AS s
        FROM $cat.${table(m)} GROUP BY event_type""")
    }
    val backlog = c.spark.read.parquet(s"${c.dataDir}/bus_preload.parquet")
      .select("seq", "event_id", "cents", "ts", "user_id", "event_type").collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(5), r.getLong(1).toString,
        s"${r.getLong(2)}|${r.getString(3)}|${r.getLong(4)}|${r.getLong(0)}"))
    append(backlog.toSeq, Clock.nowUs)
    drain(None)
    val preloadS = (System.nanoTime() - p0) / 1e9
    seq = backlog.length.toLong
    Seq("cow", "mor").foreach(m => baseVersion(m) = refreshVersion(m))

    val warehouseBefore = Fs.snapshot(c.warehouse)
    val measuredFromUs = Clock.nowUs
    val (measuredS, cpuS) = c.measure(c.int("rounds")) { _ =>
      Lap.foreach { case (kind, m) => if (Writes(kind)) write(m, kind) else readOp(m, kind) }
    }
    val writeAmp = Fs.added(warehouseBefore, Fs.snapshot(c.warehouse)).bytes /
      math.max(1.0, userBytes.toDouble)
    val lat = (writeMs ++ readMs).toSeq
    val statements = log.size

    val layers = if (!c.tracer.on) Map.empty[String, Double] else {
      val all = c.tracer.spans.filter(_.startUs >= measuredFromUs) // not the set-up drain
      c.drainListener()
      val owners = c.listener.get.attribute(all)
      val writeKinds = Seq("insert", "merge", "update", "delete")
      val stmtsTotals = writeKinds.flatMap(k => Layers.sparkPerSpan(all, owners, s"commit.$k"))
      def writeSamples(suffix: String) =
        ("ingest" +: writeKinds).flatMap(k => c.tracer.samples(s"$k.$suffix"))
      def dur(k: String) = progress.toSeq.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
      Map(
        "bus.append_ms" -> Layers.spanMs(all, "bus.append"),
        "source.latest_offset_ms" -> Stats.median(dur("latestOffset")),
        "source.query_planning_ms" -> Stats.median(dur("queryPlanning")),
        "source.latest_counts_ms" -> Layers.spanMs(all, "source.latest_counts"),
        "source.rows_per_epoch" -> Stats.median(progress.toSeq.map(_.numInputRows.toDouble)),
        "commit.add_batch_ms" -> Stats.median(dur("addBatch")),
        "commit.ingest_merge_ms" -> Layers.spanMs(all, "commit.ingest_merge"),
        "commit.insert_ms" -> Layers.spanMs(all, "commit.insert"),
        "commit.merge_ms" -> Layers.spanMs(all, "commit.merge"),
        "commit.update_ms" -> Layers.spanMs(all, "commit.update"),
        "commit.delete_ms" -> Layers.spanMs(all, "commit.delete"),
        "commit.jobs_per_stmt" -> Stats.mean(stmtsTotals.map(_.jobs.toDouble)),
        "commit.stages_per_stmt" -> Stats.mean(stmtsTotals.map(_.stages.toDouble)),
        "commit.files_added" -> Stats.mean(writeSamples("files_added")),
        "commit.bytes_written" -> Stats.mean(writeSamples("bytes_written")),
        "commit.changelog_bytes" -> Stats.mean(writeSamples("changelog_bytes")),
        "store.versions" -> Seq("cow", "mor").map(m => Fs.versions(c.tableDir(table(m)))).sum.toDouble,
        "store.files_live" -> Seq("cow", "mor").map(m => Layers.liveFiles(c, table(m))).sum.toDouble,
        "store.files_per_slot" -> Stats.mean(Seq("cow", "mor").flatMap(m => Layers.slotFiles(c, table(m)))),
        "maint.optimize_ms" -> Layers.spanMs(all, "maint.optimize"),
        "maint.bytes_rewritten" -> Stats.mean(c.tracer.samples("optimize.bytes_written")),
        "maint.files_per_slot_before" -> Stats.mean(c.tracer.samples("maint.files_per_slot_before")),
        "maint.files_per_slot_after" -> Stats.mean(c.tracer.samples("maint.files_per_slot_after")),
        "mv.refresh_ms" -> Layers.spanMs(all, "mv.refresh"),
        "changes.read_ms" -> Layers.spanMs(all, "changes.read"),
        "read.point_ms" -> Layers.spanMs(all, "read.point"),
        "read.day_ms" -> Layers.spanMs(all, "read.day"),
        "read.mv_ms" -> Layers.spanMs(all, "read.mv"),
        "scan.plan_ms" -> Stats.median(scanPlan.toSeq),
        "scan.files_read" -> Stats.mean(scanFiles.toSeq),
        "scan.prune_ratio" -> Stats.mean(scanPrune.toSeq),
        "scan.rows_read_per_row_returned" -> Stats.median(scanRows.toSeq))
    }

    // dump what the replay compares: both twins and their views as of
    // their last refresh
    val check = mutable.Map[String, Any]("log" -> c.runDir.resolve("check/dml_log.json").toString,
      "sink" -> Sink)
    Seq("cow", "mor").foreach { m =>
      try {
        val dir = c.runDir.resolve(s"check/dml_$m").toString
        c.sql(s"""SELECT event_id, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts, user_id,
          event_type, cents FROM $cat.${table(m)}""").write.parquet(dir)
        val mvDir = c.runDir.resolve(s"check/dml_mv_$m").toString
        c.sql(s"SELECT event_type, n, s FROM $cat.${mv(m)}").write.parquet(mvDir)
        check(m) = dir; check(s"mv_$m") = mvDir
      } catch { case e: Exception => errors += s"final dump of $m: $e"; failed += 1 }
    }
    java.nio.file.Files.writeString(c.runDir.resolve("check/dml_log.json"), Json(log.toSeq))

    Outcome(fixtureS, preloadS, measuredS, cpuS,
      attempted = statements, failed = failed, errors = errors.toSeq,
      throughputPerS = statements / measuredS, latencyMs = lat,
      human = Seq(
        ("stmts_per_s", statements / measuredS, "1/s", statements.toLong),
        ("write_latency_p50_ms", Stats.median(writeMs.toSeq), "ms", writeMs.size.toLong),
        ("write_latency_p90_ms", Stats.pct(writeMs.toSeq, 90), "ms", writeMs.size.toLong),
        ("read_latency_p50_ms", Stats.median(readMs.toSeq), "ms", readMs.size.toLong),
        ("read_latency_p90_ms", Stats.pct(readMs.toSeq, 90), "ms", readMs.size.toLong),
        ("visible_latency_p50_ms", Stats.median(visibleMs.toSeq), "ms", visibleMs.size.toLong),
        ("visible_latency_p90_ms", Stats.pct(visibleMs.toSeq, 90), "ms", visibleMs.size.toLong),
        ("write_amp", writeAmp, "ratio", 1L)),
      layers = layers, check = check.toMap)
  }
}
