package perfbench

import java.io.{FileWriter, PrintWriter}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, md5, sum, xxhash64}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, Tables}

/** Spans of a traced run, kept in memory and written when it ends. */
final class Tracer {
  var enabled = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val open_ = mutable.Stack[(Int, String, Int, Long)]()
  private var nextId = 0

  def open(name: String, op: Int): Int =
    if (!enabled) -1
    else {
      nextId += 1
      open_.push((nextId, name, op, System.nanoTime()))
      nextId
    }

  def close(id: Int): Unit = if (id >= 0 && open_.nonEmpty && open_.top._1 == id) {
    val (i, name, op, t0) = open_.pop()
    val parent = if (open_.isEmpty) 0 else open_.top._1
    spans += Span(i, parent, op, name, t0, System.nanoTime())
  }

  def all: Seq[Span] = spans.toSeq

  /** Seconds spent in each layer's spans and not covered by their child
    * spans; a span's layer is its name up to the first dot, and the
    * root `op` span's self time is the benchmark's own. */
  def selfTime: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(s => if (s.name == "op") "bench" else s.name.takeWhile(_ != '.'))
      .view.mapValues(_.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }
}

/** Closed-loop runner: one client thread submits one op at a time to a
  * `local[nproc]` session.
  *
  * Set-up (timed as `setup_s`): session build, registration of the
  * workload's tables, the workload's set-up-time references, and an
  * untimed warm-up pass that fixes each op's expected output. Then the
  * timed phase: whole passes over the ops, each pass in seeded order,
  * filling about `seconds`. Every op record is appended to `ops.jsonl`
  * as soon as the op ends; `summary.json` is written at the end.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *        <fixtureDir> <workDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(wl, seedS, secondsS, traceS, fixture, work) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer
    val log = new PrintWriter(new FileWriter(s"$work/ops.jsonl", true), true)
    val expected = mutable.Map[String, Fingerprint]()
    val timed = mutable.ArrayBuffer[OpResult]()
    var warmFailures = 0

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cpus]", cpus, Some(fixture))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.quietBoundedWindowWarnings()
    val tSession = System.nanoTime()
    val workload = Workload(wl)
    for (t <- workload.tables) Tables(spark, fixture, t).createOrReplaceTempView(t)
    val probe = if (traced) { val p = new Probe(spark); p.install(); Some(p) } else None
    val ctx = new Ctx(spark, fixture, work, seed, tracer)
    val tRegister = System.nanoTime()
    // the set-up checks count as one attempt, failed if any of them failed
    val setupErrors = workload.prepare(ctx)
    setupErrors.foreach(e => System.err.println(s"[perfbench] set-up check: $e"))
    if (setupErrors.nonEmpty) warmFailures += 1
    val tPrepare = System.nanoTime()
    ctx.dump = Some(dumpForOracle(spark, work))
    // warm-up pass: fixes each op's expected output
    for (op <- workload.ops) {
      val r = runOp(ctx, op, None, probe = None)
      r.fp match {
        case Some(fp) => expected(op.name) = fp
        case None =>
          warmFailures += 1
          System.err.println(s"[perfbench] warm-up ${op.name}: ${r.error.getOrElse("")}")
      }
      log.println(r.json(-1))
    }
    ctx.dump = None
    val tEnd = System.nanoTime()
    val setupS = (tEnd - t0) / 1e9
    log.println(s"""{"setup_s":$setupS,"session_s":${(tSession - t0) / 1e9},""" +
      s""""register_s":${(tRegister - tSession) / 1e9},"prepare_s":${(tPrepare - tRegister) / 1e9},""" +
      s""""warmup_s":${(tEnd - tPrepare) / 1e9}}""")

    probeCpu(spark, cpus, 2000000L) // compiles the probe's code first
    val probeBefore = probeCpu(spark, cpus)
    val rng = new Random(seed)
    // a traced run makes two passes or more, so that each op is seen
    // both traced and untraced
    val passes = math.max(if (traced) 2 else 1,
      math.round(secondsS.toDouble / workload.passSeconds).toInt)
    val tStart = System.nanoTime()
    for (pass <- 0 until passes; op <- rng.shuffle(workload.ops)) {
      // a traced run leaves every other op untraced, to measure the
      // tracing overhead
      val on = traced && timed.size % 2 == 0
      tracer.enabled = on
      probe.foreach(_.enabled = on)
      val r = runOp(ctx, op, expected.get(op.name), probe.filter(_ => on))
      timed += r
      log.println(r.json(pass))
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    tracer.enabled = false
    val events = probe.map { p => val e = p.drainEvents(); p.uninstall(); e }.getOrElse(Nil)
    val probeAfter = probeCpu(spark, cpus)
    spark.stop()
    log.close()
    writeSummary(work, wl, cpus, traced, setupS, timed.toSeq, timedS,
      workload.ops.size, warmFailures, (probeBefore, probeAfter), tracer, events)
  }

  /** `timings`: the runner's own timings of layer calls and the leak
    * counts, taken for every op; `counters`: the listener counters,
    * taken for traced ops only. */
  final case class OpResult(name: String, id: Int, wallS: Double, fp: Option[Fingerprint],
                            error: Option[String], timings: Map[String, Double],
                            counters: Map[String, Double],
                            leakedRdds: Int, leakedMb: Double, cachedPlans: Boolean,
                            traced: Boolean = false) {
    def json(pass: Int): String = {
      val ls = (timings ++ counters).toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val err = error.map(e => s""","error":${Json.str(e)}""").getOrElse("")
      s"""{"pass":$pass,"op":"$name","id":$id,"wall_s":$wallS,""" +
        s""""ok":${error.isEmpty},"rows":${fp.map(_.rows).getOrElse(-1L)},""" +
        s""""leaked_rdds":$leakedRdds,"leaked_mb":$leakedMb,"cached_plans":$cachedPlans,""" +
        s""""layers":{$ls}$err}"""
    }
  }

  private var nextOpId = 0

  /** One op: timed, checked against its expected output, then its
    * leftovers are counted and released. */
  def runOp(ctx: Ctx, op: Op, expect: Option[Fingerprint], probe: Option[Probe]): OpResult = {
    nextOpId += 1
    ctx.opId = nextOpId
    ctx.layer.clear()
    probe.foreach(_.begin())
    val span = ctx.tracer.open("op", ctx.opId)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ran = try Right(op.run(ctx)) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    ctx.tracer.close(span)
    val counters = probe.map(_.take(ms0, ms1)).getOrElse(Map.empty)
    val (rdds, mb, plans) = Leaks.measureAndRelease(ctx.spark)
    val out = ran.flatMap(check => try Right(check()) catch { case e: Throwable => Left(e) })
    val error = out match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      case Right(fp) if expect.exists(_ != fp) =>
        Some(s"output ${fp.rows} rows/${fp.hash} differs from warm-up ${expect.get.rows} rows/${expect.get.hash}")
      case _ => None
    }
    OpResult(op.name, ctx.opId, wall, out.toOption, error,
      ctx.layer.toMap ++ Map("materialize.leaked_rdds" -> rdds.toDouble, "materialize.leaked_mb" -> mb),
      counters, rdds, mb, plans, traced = probe.isDefined)
  }

  /** The fixed cpu probe: the same synthetic work as graft.Bench's. */
  def probeCpu(spark: SparkSession, cpus: Int, rows: Long = 20000000L): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, rows, 1L, cpus)
      .select(sum(xxhash64(md5(col("id").cast("string"))) % 1048576L).as("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Writes a registered query's warm-up output where the oracle check
    * reads it, with the query's oracle SQL beside it. */
  def dumpForOracle(spark: SparkSession, work: String): (String, StructType, Array[Row]) => Unit = {
    import scala.jdk.CollectionConverters._
    val oracle = graft.SparkEntry.oracleSql
    val dumped = mutable.LinkedHashMap[String, String]()
    (name, schema, rows) => oracle.get(name).foreach { sql =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/oracle/$name")
      dumped(name) = sql
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle/oracle_sql.json"),
        dumped.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}"))
    }
  }

  def writeSummary(work: String, wl: String, cpus: Int, traced: Boolean,
                   setupS: Double, ops: Seq[OpResult], timedS: Double,
                   warmAttempted: Int, warmFailures: Int, probes: (Double, Double), tracer: Tracer,
                   events: Seq[String]): Unit = {
    val walls = ops.map(_.wallS)
    // closed loop, one client: throughput over the ops' own wall time;
    // the benchmark's checks and releases between ops are not counted
    val busyS = walls.sum
    val failed = ops.count(_.error.isDefined)
    val layerMean = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val on = ops.filter(_.traced)
      // timings average over every op, counters over the traced ones;
      // sources.*, operators.* and streaming.* only over the ops that
      // made that call; peaks are maxima
      val maxed = Set("engine.peak_exec_mem_mb", "jvm.heap_peak_mb")
      def means(rs: Seq[OpResult], get: OpResult => Map[String, Double]): Unit =
        for (k <- rs.flatMap(get(_).keys).distinct.sorted) {
          val vs = rs.flatMap(get(_).get(k))
          val perOp = if (k.startsWith("sources.") || k.startsWith("operators.") ||
              k.startsWith("streaming.")) vs else rs.map(get(_).getOrElse(k, 0.0))
          layerMean(k) = if (maxed(k)) vs.max else perOp.sum / perOp.size
        }
      means(ops, _.timings)
      means(on, _.counters)
      val self = tracer.selfTime
      val nOn = on.size.max(1)
      for ((name, s) <- self.toSeq.sortBy(_._1))
        layerMean(s"self.${name}_s") = s / nOn
      // per op name, traced over untraced mean wall; the median over names
      val ratios = ops.groupBy(_.name).values.flatMap { rs =>
        val (t, u) = rs.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None
        else Some(t.map(_.wallS).sum / t.size / (u.map(_.wallS).sum / u.size))
      }.toSeq
      layerMean("trace.overhead_frac") = if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1
      val wall = on.map(_.wallS).sum
      layerMean("split.task_share") = on.map(_.counters.getOrElse("engine.task_run_s", 0.0)).sum / cpus / wall
      layerMean("split.fixed_share") = on.map(o => o.counters.getOrElse("engine.idle_s", 0.0) +
        o.timings.getOrElse("queries.build_s", 0.0)).sum / wall
      val tw = new PrintWriter(s"$work/trace.jsonl")
      try {
        tracer.all.foreach(s => tw.println(
          s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""))
        events.foreach(tw.println)
      } finally tw.close()
    }
    val (tail, tailP, tailN) = Stats.tail(walls)
    val fields = Seq(
      "workload" -> Json.str(wl),
      "cpus" -> cpus.toString,
      "traced" -> traced.toString,
      "setup_s" -> setupS.toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "warm_attempted" -> (warmAttempted + 1).toString,
      "warm_failures" -> warmFailures.toString,
      "timed_s" -> timedS.toString,
      "busy_s" -> busyS.toString,
      "ops_per_min" -> (ops.size / busyS * 60).toString,
      "op_p50_s" -> Stats.median(walls).toString,
      "op_tail_s" -> tail.toString,
      "op_tail_pct" -> tailP.toString,
      "op_tail_samples" -> tailN.toString,
      "probe_before_s" -> probes._1.toString,
      "probe_after_s" -> probes._2.toString,
      "leaked_rdds" -> ops.map(_.leakedRdds).sum.toString,
      "layers" -> layerMean.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/summary.json"),
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it: the
    * 11th largest sample. With ten samples or fewer no percentile has
    * ten beyond it, and the tail is the largest sample (p100). Returns
    * (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (if (s.isEmpty) 0.0 else s.last, 100.0, s.size)
    else {
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size, s.size)
    }
  }
}

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
}
