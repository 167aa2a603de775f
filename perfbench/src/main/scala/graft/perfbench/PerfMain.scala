package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: set-up, the timed closed loop, and the
  * output dumps for the checks. Everything is driven from this one
  * client thread over `local[cores]`.
  *
  * Arguments are `--key value` pairs: workload, seed, passes, trace,
  * cores, setups, out, and per workload data/warmData (query mixes) or
  * frame/rounds/warmRows (boost_fit_score). Writes `out/result.json`
  * (and `out/spans.json` when traced); the caller turns those into
  * metrics.
  *
  * Set-up starts a session and loads the input `setups` times, each on a
  * fresh session, then warms the kernels once on the last one, which the
  * loop then runs on: only the first warmup in a JVM warms the JIT. The loop runs
  * `passes` whole passes back to back; the caller sizes that count to
  * the requested measuring time. A traced run traces set-up and every
  * pass; the caller compares its pass wall with untraced runs'.
  */
object PerfMain {

  final case class OpRec(name: String, layer: String, kind: String, rows: Long,
      seconds: Double, ok: Boolean, pass: Int)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val passes = opt("passes").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val setups = opt("setups").toInt
    val out = opt("out")
    val workload: Workload = name match {
      case "boost_fit_score" =>
        new BoostFitScore(opt("frame"), opt("rounds").toInt, opt("warmRows").toLong)
      case "llm_pipeline" =>
        new LlmPipeline(opt("data"), opt("warmData"), opt("queries").split(",").toSeq, seed)
    }
    if (traced) {
      System.setProperty("spark.extraListeners", classOf[TraceListener].getName)
      Trace.start(s"$name-$seed")
    }

    // (session start + input load) per set-up, then the one warmup
    val setupS = mutable.ArrayBuffer.empty[Double]
    var warmupS = 0.0
    var spark: SparkSession = null
    for (i <- 1 to setups) {
      if (spark != null) spark.stop()
      val root = Trace.begin("setup", s"setup-$i")
      val t0 = System.nanoTime()
      val start = Trace.begin("session", "start")
      spark = GraftSession.local(cores, "perfbench")
      Trace.end(start)
      Trace.tag(spark.sparkContext)
      workload.load(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i == setups) {
        val t1 = System.nanoTime()
        Trace.span(spark.sparkContext, "session", "warmup")(workload.warmup(spark))
        warmupS = (System.nanoTime() - t1) / 1e9
      }
      Trace.end(root)
      Trace.tag(spark.sparkContext)
    }
    val sc = spark.sparkContext
    if (traced) PerfbenchBridge.drainListeners(sc)

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    var heapPeakMb = 0.0
    var passNo = 0
    while (passNo < passes) {
      val root = Trace.begin("loop", s"pass-$passNo")
      Trace.tag(sc)
      val p0 = System.nanoTime()
      workload.pass(spark).foreach { op =>
        val t0 = System.nanoTime()
        val ok =
          try { Trace.span(sc, op.layer, op.name)(op.run()); true }
          catch {
            case e: Throwable =>
              failures += (op.name -> String.valueOf(e.getMessage).take(300))
              false
          }
        ops += OpRec(op.name, op.layer, op.kind, op.rows,
          (System.nanoTime() - t0) / 1e9, ok, passNo)
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      Trace.end(root)
      Trace.tag(sc)
      // outside the pass wall: settle the listener, then the live heap
      if (traced) PerfbenchBridge.drainListeners(sc)
      heapPeakMb = math.max(heapPeakMb, oldGenAfterGcMb())
      passNo += 1
    }
    val layers = if (traced) LayerReport.compute(cores) else mutable.LinkedHashMap.empty[String, Double]
    Trace.enabled = false

    // output dumps for the checks, after every timed interval
    val dumpDir = s"$out/dump"
    Files.createDirectories(Paths.get(dumpDir))
    try workload.dump(spark, dumpDir)
    catch { case e: Throwable => failures += ("dump" -> String.valueOf(e.getMessage).take(300)) }
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    Files.writeString(Paths.get(s"$out/result.json"), Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "cores" -> cores.toString,
      "trace" -> traced.toString,
      "setup_s" -> Json.arr(setupS.map(Json.num)), "warmup_s" -> Json.num(warmupS),
      "pass_s" -> Json.arr(passWalls.map(Json.num)),
      "ops" -> Json.arr(ops.map(o => Json.obj(Seq(
        "name" -> Json.str(o.name), "layer" -> Json.str(o.layer), "kind" -> Json.str(o.kind),
        "rows" -> o.rows.toString, "s" -> Json.num(o.seconds), "ok" -> o.ok.toString,
        "pass" -> o.pass.toString)))),
      "failures" -> Json.arr(failures.map { case (n, e) =>
        Json.obj(Seq("name" -> Json.str(n), "error" -> Json.str(e))) }),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) })
    )))
    if (traced)
      Files.writeString(Paths.get(s"$out/spans.json"), Json.arr(Trace.spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run" -> Json.str(s.run),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString)))))
    spark.stop()
  }

  /** Old-generation bytes in use right after a full collection. The
    * second collection picks up what Spark's cleaner released after the
    * first (unpersisted blocks, dropped broadcasts).
    */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
