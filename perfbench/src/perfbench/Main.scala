package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** JVM side of the benchmark: drives one workload through the program's
  * public calls and writes `result.json` (timings, per-layer numbers) plus
  * the snapshots `run.py` checks into the run directory.
  *
  * {{{ perfbench.Main <workload> <runDir> <inputDir> <cores> <trace 0|1> <warmup> <size> <query>... }}}
  *
  * `size` is the number of timed closed-loop iterations (CDC epochs or
  * query-mix passes), after `warmup` untimed ones. The queries name the
  * registered queries `query_mix` runs.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, inputDir, coresS, traceS, warmupS, sizeS) = args.take(7)
    val run = Run(workload, Paths.get(runDir).toAbsolutePath, Paths.get(inputDir).toAbsolutePath,
      coresS.toInt, traceS == "1", warmupS.toInt, sizeS.toInt)
    val out = workload match {
      case "trickle_cow" => Cdc.run(run)
      case "query_mix" => Mix.run(run, args.drop(7).toSeq)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(run.dir.resolve("result.json"), Json.obj(out))
  }
}

final case class Run(workload: String, dir: Path, input: Path, cores: Int, trace: Boolean,
                     warmup: Int, size: Int) {
  val tracer = new Tracer
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  def nsToMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  /** A fresh session: local[cores], `cores` shuffle partitions, private dirs
    * (the launcher points SPARK_LOCAL_DIRS into the run directory).
    */
  def session(name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def seconds[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
}

/** Per-layer numbers of a traced run, summarised over its traced epochs. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Counters of every span named `name`, summed within each epoch. */
  def perEpoch(spans: Seq[Span], epochs: Seq[Int], name: String): Seq[(Double, Counters)] =
    epochs.map { e =>
      val c = new Counters
      var s = 0.0
      spans.filter(sp => sp.epoch == e && sp.name == name).foreach { sp => c += sp.counters; s += sp.seconds }
      (s, c)
    }

  /** `<name>_s` and the seven job counters, as medians over `epochs`. */
  def report(out: mutable.LinkedHashMap[String, Double], spans: Seq[Span], epochs: Seq[Int],
             name: String, counters: Boolean = true): Unit = {
    val pe = perEpoch(spans, epochs, name)
    out(s"${name}_s") = median(pe.map(_._1))
    out(s"$name.jobs") = median(pe.map(_._2.jobs.toDouble))
    if (counters) {
      out(s"$name.tasks") = median(pe.map(_._2.tasks.toDouble))
      out(s"$name.task_s") = median(pe.map(_._2.taskMs / 1000.0))
      out(s"$name.shuffle_bytes") = median(pe.map(_._2.shuffleBytes.toDouble))
      out(s"$name.spill_bytes") = median(pe.map(_._2.spillBytes.toDouble))
      out(s"$name.rows_in") = median(pe.map(_._2.rowsIn.toDouble))
      out(s"$name.rows_out") = median(pe.map(_._2.rowsOut.toDouble))
    }
  }

  /** Write the spans as JSON lines (name, start, end, parent, epoch). */
  def writeSpans(path: Path, spans: Seq[Span], run: Run): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= Json.obj(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "epoch" -> s.epoch,
        "start_ms" -> run.nsToMs(s.startNs), "end_ms" -> run.nsToMs(s.endNs),
        "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks, "task_ms" -> s.counters.taskMs,
        "shuffle_bytes" -> s.counters.shuffleBytes, "spill_bytes" -> s.counters.spillBytes,
        "rows_in" -> s.counters.rowsIn, "rows_out" -> s.counters.rowsOut,
        "bytes_out" -> s.counters.bytesOut))
      sb += '\n'
    }
    Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.asInstanceOf[collection.Map[String, Any]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def obj(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
