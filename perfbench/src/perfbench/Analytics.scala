package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Whole passes over a fixed list of the program's headline batch
  * queries (`SparkEntry.queries`) on the generated tables. No store
  * writes and no streaming: this isolates the operator and Spark
  * execution layers. Every execution's rows must equal the first pass's
  * rows; those are dumped for the DuckDB oracle check. */
object Analytics {
  def run(c: Ctx): Outcome = {
    val names = c.params("queries").split(",").toSeq
    val build = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
    val fixtureS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.Tables.names.foreach { t =>
        val df = if (t == "events") graft.Tables.events(c.spark, c.dataDir)
          else graft.Tables.load(c.spark, c.dataDir, t)
        df.count()
      }
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: the first query once, which loads and JITs the shared
    // Spark paths; the measured passes then run whole, and the first one
    // supplies the reference rows
    val w0 = System.nanoTime()
    build(names.head)(c.spark, c.dataDir).collect()
    val onceS = (System.nanoTime() - w0) / 1e9
    val errors = mutable.ArrayBuffer.empty[String]
    val reference = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    val (measuredS, cpuS) = c.measure(c.int("rounds")) { pass =>
      val p0 = System.nanoTime()
      names.foreach { n =>
        attempted += 1
        val q0 = System.nanoTime()
        val res = try Some(c.tracer.span(s"op.$n", pass) {
            val df = build(n)(c.spark, c.dataDir)
            (df.collect(), df.schema)
          })
          catch { case e: Exception => errors += s"$n pass $pass: $e"; None }
        perQuery.getOrElseUpdate(n, mutable.ArrayBuffer()) += (System.nanoTime() - q0) / 1e6
        res match {
          case None => failed += 1
          case Some((rows, schema)) => reference.get(n) match {
            case None => reference(n) = (rows, schema)
            case Some((want, _)) if !want.sameElements(rows) =>
              failed += 1; errors += s"$n pass $pass: rows differ from the first pass"
            case _ =>
          }
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val lat = perQuery.values.flatten.toSeq

    val layers = if (!c.tracer.on) Map.empty[String, Double] else {
      val all = c.tracer.spans
      c.drainListener()
      val owners = c.listener.get.attribute(all)
      names.flatMap { n =>
        val tot = Layers.sparkPerSpan(all, owners, s"op.$n")
        Seq(s"op.$n.wall_s" -> Layers.spanMs(all, s"op.$n") / 1000.0,
          s"op.$n.jobs" -> Stats.mean(tot.map(_.jobs.toDouble)),
          s"op.$n.shuffle_bytes" -> Stats.mean(tot.map(_.shuffleBytes.toDouble)))
      }.toMap
    }

    val checkRoot = c.runDir.resolve("check/analytics")
    val oracle = graft.SparkEntry.oracleSql
    val dumped = reference.map { case (n, (rows, schema)) =>
      val dir = checkRoot.resolve(n).toString
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(dir)
      n -> Map("dir" -> dir, "oracle" -> oracle.get(n))
    }.toMap
    Outcome(fixtureS, onceS, measuredS, cpuS,
      attempted = attempted, failed = failed,
      errors = errors.toSeq,
      throughputPerS = attempted / measuredS, latencyMs = lat,
      human = Seq(
        ("pass_s", Stats.median(passes.toSeq), "s", passes.size.toLong),
        ("queries_per_s", attempted / measuredS, "1/s", attempted)),
      layers = layers,
      check = Map("queries" -> dumped, "passes" -> passes.size))
  }
}
