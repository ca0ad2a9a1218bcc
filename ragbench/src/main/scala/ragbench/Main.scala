package ragbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Runs one workload on one set of generated inputs and writes the raw
  * measurements as JSON; `run.py` turns them into the reported metrics.
  *
  * {{{
  * Main --workload <name> --inputs <dir> --work <dir> --result <file>
  *      --seed <n> --seconds <s> --trace <0|1> --min-ops <n>
  * }}}
  *
  * Set-up (session start, loading the inputs, the workload's prepare step,
  * a full collection, the workload's warm-up) is timed apart from the
  * measured window, which runs ops until `--seconds`
  * have passed and at least `--min-ops` ops were made. With `--trace 1`
  * every second op is traced, so the difference between traced and
  * untraced ops is the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ragbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    val sessionS = elapsed(t0)

    val trace = new Trace(traced, spark.sparkContext)
    val t1 = System.nanoTime()
    val w = Workloads(workload, spark, a("inputs"), work, seed, trace)
    val loadS = elapsed(t1)
    val t2 = System.nanoTime()
    w.prepare()
    // a full collection between the heavy set-up and the warm-up: the
    // broadcasts and shuffles the set-up left are only cleaned up once
    // the collector finds them unreachable, and that cleanup then runs
    // during the warm-up instead of the measured window
    val (_, gcS) = Workloads.seconds(System.gc())
    val (_, warmS) = Workloads.seconds(w.warmUp())
    val prepareS = elapsed(t2)

    val ops = ArrayBuffer.empty[Op]
    val errors = ArrayBuffer.empty[String]
    def failed(i: Int, e: Throwable): Boolean = {
      if (errors.length < 5) errors += s"op $i: $e"
      false
    }
    // peak RSS over the set-up and the first minOps ops: a fixed amount
    // of work, so it does not grow with the number of ops a run gets to
    var peakRss = 0.0
    // counters of the untraced ops only, so traced and untraced runs report
    // the same per-op work
    var window = Map.empty[String, Double]
    // a traced run alternates untraced and traced ops, so both see the
    // same inputs and the same state of the machine
    val minOps = if (traced) math.max(3, a("min-ops").toInt) else a("min-ops").toInt
    w.beginWindow()
    val start = System.nanoTime()
    while (ops.length < minOps || elapsed(start) < seconds) {
      val i = ops.length
      val t = if (traced && i % 2 == 1) trace else Trace.Off
      val before = counters.snapshot()
      val s = System.nanoTime()
      val check = try t.span("op", i)(w.op(i, t)) catch {
        case e: Exception => () => failed(i, e)
      }
      val ms = (System.nanoTime() - s) / 1e6
      if (!t.enabled) window = Counters.add(window,
        Counters.delta(counters.snapshot(), before))
      val ok = try check() catch { case e: Exception => failed(i, e) }
      ops += Op(ms, ok, t.enabled)
      if (ops.length == minOps) peakRss = Counters.peakRssMb()
    }
    val storageMb = counters.storageMb()
    val layer = if (traced) w.layerCounts() else Map.empty[String, Double]
    val verdict = w.verify()
    val jobs = if (traced) counters.finishedJobs else Nil
    spark.stop()

    val untracedOps = ops.filterNot(_.traced)
    Json.write(a("result"), Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> cores,
      "session_s" -> sessionS,
      "load_s" -> loadS,
      "prepare_s" -> prepareS,
      "prepare_parts" -> (w.prepareParts ++ Map("gc" -> gcS, "warm_up" -> warmS)),
      "op_ms" -> untracedOps.map(_.ms),
      "traced_op_ms" -> ops.filter(_.traced).map(_.ms),
      "attempted" -> ops.length,
      "failed" -> ops.count(!_.ok),
      "recall" -> verdict.recall,
      "precision" -> verdict.precision,
      "verdict_ok" -> verdict.ok,
      "notes" -> (verdict.notes ++ errors),
      "peak_rss_mb" -> peakRss,
      "counters" -> (window ++ Map("spark.storage_mb_end" -> storageMb)),
      "layer" -> layer,
      "spans" -> trace.recorded.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "req" -> s.req, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> jobs.map(j => Json.obj("span" -> j.span, "site" -> j.site,
        "start_ms" -> (j.startWallMs - trace.originWallMs).toDouble,
        "end_ms" -> (j.endWallMs - trace.originWallMs).toDouble))))
  }

  private def elapsed(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  final case class Op(ms: Double, ok: Boolean, traced: Boolean)
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
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

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes("UTF-8"))
}
