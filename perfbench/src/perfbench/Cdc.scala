package perfbench

import graft.engine.{BookingFlow, ChangeFeed, KeyedTable, Orchestrator, Schemas}
import graft.engine.Orchestrator.Step
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampType}

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The CDC workload `trickle_cow`: every epoch lands one feed file and runs
  * the pipeline to the fact commit and aggregate refresh. The loop is
  * closed: an epoch lands only after the previous one returned.
  */
object Cdc {
  final class Tables(val spark: SparkSession, val root: Path) {
    val rawDir: String = root.resolve("landing/customers").toString
    val archiveDir: String = root.resolve("archive/customers").toString
    val feedDir: String = root.resolve("landing/bookings").toString
    val dim: KeyedTable = KeyedTable(spark, root.resolve("dim_customer").toString, Seq("customer_id"))
    val fact: KeyedTable =
      KeyedTable(spark, root.resolve("fact_booking").toString, Seq("booking_id"), Some("updated_at"))
    val agg: KeyedTable = KeyedTable(spark, root.resolve("agg_booking").toString, Seq("country"))
    val feed = new ChangeFeed(spark, feedDir, Schemas.bookingRaw, root.resolve("feed.ckpt").toString)
    def all: Seq[(String, KeyedTable)] = Seq("dim" -> dim, "fact" -> fact, "agg" -> agg)
  }

  private def land(src: Path, dstDir: String, name: String): Unit = {
    val d = Path.of(dstDir)
    Files.createDirectories(d)
    // copy beside the target, then rename: the pipeline never sees a partial file
    val tmp = d.resolveSibling(s".$name.landing")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def lines(p: Path): Int = {
    val s = Files.lines(p)
    try s.count().toInt finally s.close()
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Timestamps as UTC epoch microseconds and dates as epoch days, so the
    * checker compares exact integers.
    */
  def encoded(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case TimestampType => unix_micros(col(f.name)).as(f.name)
        case DateType => unix_date(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  def run(run: Run): mutable.LinkedHashMap[String, Any] = {
    val tr = run.tracer
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0

    // ---- set-up: session start + bootstrap load through runAll ----------
    val root = run.dir.resolve("tables")
    land(run.input.resolve("base/customers.csv"), root.resolve("landing/customers").toString, "base.csv")
    land(run.input.resolve("base/feed.json"), root.resolve("landing/bookings").toString, "base.json")
    // the traced run traces the bootstrap: it is where the dimension load
    // and the orchestrator do their work
    tr.on = run.trace
    val (t, setupS) = run.seconds {
      val spark = run.session(run.workload)
      val t = new Tables(spark, root)
      val ok = tr.listening(spark)(tr.span(spark, "setup") {
        if (tr.on) tracedPipeline(spark, t, tr, loadDim = true)
        else BookingFlow.runAll(spark, t.rawDir, t.archiveDir, t.feed, t.dim, t.fact, t.agg)
          .forall(_.succeeded)
      })
      if (!ok) { failed += 1; errors += "bootstrap failed" }
      t
    }
    tr.on = false
    val spark = t.spark

    // ---- epochs ---------------------------------------------------------
    val epochS = mutable.ArrayBuffer.empty[Double]
    val docs = mutable.ArrayBuffer.empty[Int]
    var heapPeak = 0.0
    val gc0 = Jvm.gcSeconds
    for (e <- 0 until run.warmup + run.size) {
      val ed = run.input.resolve(f"epoch_$e%03d")
      land(ed.resolve("feed.json"), t.feedDir, f"e$e%03d.json")
      // the first epochs warm the JVM up and are not timed; traced runs trace
      // every other timed epoch, so the trace's own cost shows beside them
      val i = e - run.warmup
      tr.on = run.trace && i >= 0 && i % 2 == 1
      tr.epoch = i
      val (ok, s) = run.seconds {
        try tr.listening(spark)(tr.span(spark, "epoch")(
          if (tr.on) tracedPipeline(spark, t, tr, loadDim = false)
          else { BookingFlow.loadBookingFactBatch(spark, t.feed, t.fact, t.dim, t.agg); true }))
        catch {
          case ex: Throwable =>
            errors += s"epoch $e: $ex"
            false
        }
      }
      if (!ok) failed += 1
      if (i >= 0) {
        epochS += s
        docs += lines(ed.resolve("feed.json"))
      }
      tr.on = false
      heapPeak = math.max(heapPeak, Jvm.heapAfterGcMb)
    }
    val gcS = Jvm.gcSeconds - gc0

    // ---- outside the timed region: storage and snapshots to check ------
    // the snapshots written for the check double as the fresh parquet copy
    // that storage amplification divides by
    val rootBytes = t.all.map { case (_, k) => bytesUnder(Path.of(k.root)) }.sum
    t.all.foreach { case (n, k) => encoded(k.current).write.parquet(run.dir.resolve(s"out/$n").toString) }
    val freshBytes = bytesUnder(run.dir.resolve("out"))

    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "epoch_s" -> epochS.toSeq,
      "docs" -> docs.toSeq, "attempted" -> (1 + run.warmup + run.size), "failed" -> failed,
      "errors" -> errors.toSeq, "root_bytes" -> rootBytes, "fresh_bytes" -> freshBytes)
    if (run.trace)
      out("layers") = layers(run, docs.toSeq, gcS, heapPeak)
    spark.stop()
    out
  }

  /** The public calls `runAll` (with `loadDim`) or `loadBookingFactBatch`
    * make, in their order, each inside its own span.
    */
  private def tracedPipeline(spark: SparkSession, t: Tables, tr: Tracer, loadDim: Boolean): Boolean = {
    def loadFact(): Unit = {
      val (raw, files, commit) = tr.span(spark, "ChangeFeed.readNew")(t.feed.readNew())
      if (files.nonEmpty) {
        val (aligned, _) = tr.span(spark, "BookingFlow.transform")(BookingFlow.bookingTransform(raw, t.fact))
        tr.span(spark, "KeyedTable.merge")(t.fact.merge(aligned))
        tr.span(spark, "ChangeFeed.commit")(commit())
      }
      tr.span(spark, "BookingFlow.refreshAggregate")(BookingFlow.refreshAggregate(t.fact, t.dim, t.agg))
    }
    if (loadDim)
      tr.span(spark, "Orchestrator.runPipeline")(Orchestrator.runPipeline("FinalAirBnBPipeline", Seq(
        Step("LoadCustomerDim")(() => tr.span(spark, "BookingFlow.loadCustomerDim") {
          BookingFlow.loadCustomerDim(spark, t.rawDir, t.archiveDir, t.dim); ()
        }),
        Step("LoadBookingFact")(() => loadFact()),
      ))).forall(_.succeeded)
    else {
      loadFact()
      true
    }
  }

  private def layers(run: Run, docs: Seq[Int], gcS: Double,
                     heapPeak: Double): mutable.LinkedHashMap[String, Double] = {
    val tr = run.tracer
    val spans = tr.finished
    val traced = (0 until run.size).filter(_ % 2 == 1)
    val out = mutable.LinkedHashMap.empty[String, Double]
    import Layers._
    Seq("ChangeFeed.readNew", "BookingFlow.transform", "ChangeFeed.commit")
      .foreach(n => report(out, spans, traced, n, counters = false))
    Seq("KeyedTable.merge", "BookingFlow.refreshAggregate")
      .foreach(n => report(out, spans, traced, n))
    // the dimension load and the orchestrator run in the bootstrap only
    report(out, spans, Seq(-1), "BookingFlow.loadCustomerDim")
    report(out, spans, Seq(-1), "Orchestrator.runPipeline", counters = false)
    val merge = perEpoch(spans, traced, "KeyedTable.merge")
    val refresh = perEpoch(spans, traced, "BookingFlow.refreshAggregate")
    out("KeyedTable.rows_written_per_change") =
      median(traced.zip(merge).map { case (e, (_, c)) => c.rowsOut.toDouble / docs(e) })
    out("KeyedTable.bytes_written") = median(merge.map(_._2.bytesOut.toDouble))
    out("Aggregations.rows_read_per_change") =
      median(traced.zip(refresh).map { case (e, (_, c)) => c.rowsIn.toDouble / docs(e) })
    val epochSpans = spans.filter(_.name == "epoch")
    out("epoch.driver_s") = median(epochSpans.map { s =>
      tr.driverSeconds(s, spans.filter(_.epoch == s.epoch).map(_.id).toSet, run.nsToMs)
    })
    out("epoch.core_util") = median(epochSpans.map { s =>
      val taskS = spans.filter(_.epoch == s.epoch).map(_.counters.taskMs).sum / 1000.0
      taskS / (s.seconds * run.cores)
    })
    out("jvm.gc_s") = gcS
    out("jvm.heap_after_gc_peak_mb") = heapPeak
    writeSpans(run.dir.resolve("spans.jsonl"), spans, run)
    out
  }
}
