package perfbench

import graft.SparkEntry
import graft.queries.Td
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, FloatType, MapType, StructType}

import java.nio.file.Path
import scala.collection.mutable

/** `query_mix`: one client runs a fixed list of registered queries in order,
  * each materialised in full through Spark's `noop` sink. The first pass is
  * untimed and hashes every result for the correctness check; the timed
  * passes follow.
  */
object Mix {
  /** The stored indexes the listed queries read, installed during set-up. */
  val Installs: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "videohash" -> ((s, d) => Td.videoHashTable(s, d)))

  /** Order-independent content hash: row count and the sum of each row's
    * xxhash64 over its columns sorted by name. Floating-point values enter
    * with nine significant digits, so last-bit summation-order noise does
    * not change the hash.
    */
  def contentHash(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      val s = f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c.cast("double"))
        case _: ArrayType | _: StructType | _: MapType => to_json(c)
        case _ => c.cast("string")
      }
      coalesce(s, lit("\u0000"))
    }
    val r = df.select(xxhash64(concat_ws("\u0001", cols: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def run(run: Run, queries: Seq[String]): mutable.LinkedHashMap[String, Any] = {
    val data = run.input.toString
    val tr = run.tracer
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0
    var attempted = 0

    // ---- set-up: session start + index installs --------------------------
    // Index roots live under java.io.tmpdir, which is private to the run, so
    // every run pays the installs.
    val installS = mutable.LinkedHashMap.empty[String, Double]
    val (spark, setupS) = run.seconds {
      val spark = run.session("query_mix")
      Installs.foreach { case (k, f) =>
        attempted += 1
        installS(k) = run.seconds(try f(spark, data) catch {
          case e: Throwable => failed += 1; errors += s"install $k: $e"
        })._2
      }
      spark
    }
    val sc = spark.sparkContext

    // ---- untimed pass: content hashes ------------------------------------
    val hashes = mutable.LinkedHashMap.empty[String, String]
    queries.foreach { q =>
      attempted += 1
      try {
        hashes(q) = contentHash(SparkEntry.queries(q)(spark, data))
      } catch { case e: Throwable => failed += 1; errors += s"check $q: $e" }
    }

    // ---- timed passes ----------------------------------------------------
    // the first passes warm the JVM up and are not timed; a traced run
    // brackets each traced pass with untraced ones
    val passes = if (run.trace) math.max(run.size, 3) else run.size
    val passS = mutable.ArrayBuffer.empty[Double]
    val gc0 = Jvm.gcSeconds
    var heapPeak = 0.0
    for (e <- 0 until run.warmup + passes) {
      val p = e - run.warmup
      tr.on = run.trace && p >= 0 && p % 2 == 1
      tr.epoch = p
      var total = 0.0
      queries.foreach { q =>
        attempted += 1
        // release what the run registered, as the repository's own bench
        // does: localCheckpointed blocks otherwise pile up across runs
        val before = sc.getPersistentRDDs.keySet
        try {
          val (_, s) = run.seconds(tr.listening(spark) {
            val df = tr.span(spark, s"queries.$q.call")(SparkEntry.queries(q)(spark, data))
            tr.span(spark, s"queries.$q.exec")(df.write.format("noop").mode("overwrite").save())
          })
          total += s
        } catch { case e: Throwable => failed += 1; errors += s"pass $p $q: $e" }
        (sc.getPersistentRDDs.keySet -- before)
          .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
      }
      tr.on = false
      if (p >= 0) passS += total
      heapPeak = math.max(heapPeak, Jvm.heapAfterGcMb)
    }
    val gcS = Jvm.gcSeconds - gc0

    val indexBytes = Cdc.bytesUnder(Path.of(System.getProperty("java.io.tmpdir")))
    val inputBytes = Cdc.bytesUnder(run.input)
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "epoch_s" -> passS.toSeq,
      "hashes" -> hashes,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "root_bytes" -> indexBytes, "fresh_bytes" -> inputBytes)
    if (run.trace) {
      val spans = tr.finished
      val traced = (0 until passes).filter(_ % 2 == 1)
      val l = mutable.LinkedHashMap.empty[String, Double]
      queries.foreach { q =>
        val call = Layers.perEpoch(spans, traced, s"queries.$q.call")
        val exec = Layers.perEpoch(spans, traced, s"queries.$q.exec")
        l(s"queries.$q.call_s") = Layers.median(call.map(_._1))
        l(s"queries.$q.exec_s") = Layers.median(exec.map(_._1))
        l(s"queries.$q.jobs") =
          Layers.median(call.zip(exec).map { case (a, b) => (a._2.jobs + b._2.jobs).toDouble })
      }
      installS.foreach { case (k, x) => l(s"Td.install.${k}_s") = x }
      l("jvm.gc_s") = gcS
      l("jvm.heap_after_gc_peak_mb") = heapPeak
      Layers.writeSpans(run.dir.resolve("spans.jsonl"), spans, run)
      out("layers") = l
    }
    spark.stop()
    out
  }
}
