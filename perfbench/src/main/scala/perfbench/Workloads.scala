package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.operators.{Dedup, SimilaritySearch}
import graft.sources._
import graft.streaming.StreamOps

/** An op's output reduced to a row count and an order-insensitive hash
  * of its canonical rows. */
final case class Fingerprint(rows: Long, hash: Long)

object Fingerprint {
  /** A value in a form that survives a format round trip: numbers as
    * plain decimals, dates as ISO strings, nested values recursively. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d, java.lang.Double.toString(d))
    case f: Float => num(f.toDouble, java.lang.Float.toString(f))
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }
  private def num(d: Double, s: String): String =
    if (d.isNaN || d.isInfinite) s
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else if (s.contains('E')) new java.math.BigDecimal(s).stripTrailingZeros.toPlainString
    else s

  def rowKey(r: Row): String = r.toSeq.map(canon).mkString("\u0001")

  def of(rows: Seq[Row]): Fingerprint = Fingerprint(rows.size, rows.iterator.map { r =>
    val s = rowKey(r)
    (MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
  }.sum)
}

/** One closed-loop operation: calls into the program and returns the
  * check of its output, which the runner runs after the op's wall time
  * is taken. The check returns the output's fingerprint or fails. */
final case class Op(name: String, run: Ctx => (() => Fingerprint))

/** What an op sees: the session, the inputs and the timing hooks. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String,
                val seed: Long, val tracer: Tracer) {
  var opId = 0
  /** Seconds spent inside each layer call of the op in flight. */
  val layer = scala.collection.mutable.Map[String, Double]()
  /** Outputs of registered queries, kept during the warm-up for the
    * oracle check. */
  var dump: Option[(String, StructType, Array[Row]) => Unit] = None

  def phase(p: String): Unit =
    spark.sparkContext.setJobGroup(s"op$opId:$p", p, interruptOnCancel = false)

  /** Time one call into a layer: adds its wall time to `metric` and, in
    * a traced run, records it as a span. */
  def timed[T](metric: String)(body: => T): T = {
    phase(metric)
    val t0 = System.nanoTime()
    val span = tracer.open(metric, opId)
    try body
    finally {
      tracer.close(span)
      layer(metric) = layer.getOrElse(metric, 0.0) + (System.nanoTime() - t0) / 1e9
    }
  }

  def add(metric: String, v: Double): Unit = layer(metric) = layer.getOrElse(metric, 0.0) + v
}

/** A workload: its ops and the setup-time state they check against. */
trait Workload {
  def ops: Seq[Op]
  /** Nominal wall time of one warm pass. A run measures a fixed number
    * of whole passes, `seconds / passSeconds` rounded, so that every run
    * of a workload times the same multiset of ops. */
  def passSeconds: Double
  /** The input tables the workload registers as views at set-up. */
  def tables: Seq[String]
  /** Set-up-time state: samples and exact references. Runs once, before
    * the warm-up pass; returns the set-up checks that failed. */
  def prepare(ctx: Ctx): Seq[String]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "ann_dedup" => new AnnDedup
    case "io_roundtrip" => new IoRoundtrip
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A registered query, built through `SparkEntry.queries` and executed
    * by collecting its rows. */
  def query(name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, ctx => {
      val df = ctx.timed("queries.build_s")(fn(ctx.spark, ctx.dir))
      val rows = ctx.timed("queries.exec_s")(df.collect())
      () => {
        ctx.dump.foreach(_(name, df.schema, rows))
        Fingerprint.of(rows.toSeq)
      }
    })
  }
}

/** The LLM-pipeline surface at small scale: registered ANN, semantic
  * and text dedup queries, plus direct calls into the operators, each
  * checked against an exact reference built at set-up. */
class AnnDedup extends Workload {
  val passSeconds = 12.0
  val tables = Seq("documents", "embeddings")
  val K = 10
  val NList = 16
  val NProbe = 4
  val Probes = 20
  val Threshold = 0.99
  val TextThreshold = 0.5
  /** Lowest recall@10 an `op_ivf_topk` output may have against the
    * exhaustive reference; below it the output counts as wrong. The
    * corpus is unclustered, so nprobe 4 of 16 finds about half of the
    * true neighbours; the floor sits well below the spread over probe
    * samples. */
  val RecallFloor = 0.35
  private var probes: DataFrame = _
  private var vecs: Map[Long, Array[Double]] = Map.empty
  /** Exhaustive top-K of each probe: `topKCosineIvf` with nprobe = nlist,
    * checked at set-up against brute force outside Spark. */
  private var ivfRef: Map[Long, Set[Long]] = Map.empty
  /** Ids with a lower id at cosine >= Threshold, over the whole corpus. */
  private var dupRef: Set[Long] = Set.empty
  /** Word 3-gram Jaccard pairs (i, j, jac) at jac >= TextThreshold. */
  private var textRef: Set[(Long, Long, Double)] = Set.empty

  private def corpus(ctx: Ctx) =
    Tables(ctx.spark, ctx.dir, "embeddings").select(col("vec_id"), col("embedding"))

  private def topIds(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getAs[Long]("probe_id"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("vec_id")).toSet }

  /** The operators' cosine, `dot / (|a| |b|)` over the floats as doubles. */
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Spark's `round(x, 6)`. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  override def prepare(ctx: Ctx): Seq[String] = {
    val emb = corpus(ctx)
    val rows = emb.collect()
    vecs = rows.map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // the seed picks the probe sample
    val picked = new scala.util.Random(ctx.seed).shuffle(rows.indices.toList).take(Probes)
    probes = ctx.spark.createDataFrame(picked.map(rows(_)).asJava, emb.schema)
    // brute force: rounded cosine descending, then smallest id
    val brute = picked.map { i =>
      val pid = rows(i).getLong(0)
      pid -> vecs.toSeq.filter(_._1 != pid).map { case (id, v) => (-round6(cos(vecs(pid), v)), id) }
        .sorted.take(K).map(_._2).toSet
    }.toMap
    val cents = SimilaritySearch.trainIvf(emb, "vec_id", "embedding", NList)
    ivfRef = topIds(SimilaritySearch.topKCosineIvf(probes, "vec_id", emb, "vec_id", "embedding",
      K, NList, NList, Some(cents)).collect())
    val ids = vecs.keys.toArray.sorted
    dupRef = (for (a <- ids.indices; b <- a + 1 until ids.length
                   if cos(vecs(ids(a)), vecs(ids(b))) >= Threshold) yield ids(b)).toSet
    textRef = TextReference.pairs(
      Tables(ctx.spark, ctx.dir, "documents").select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)), 3, TextThreshold)
    if (ivfRef == brute) Nil
    else Seq(s"exhaustive topKCosineIvf (nprobe = nlist = $NList) differs from brute force " +
      s"on ${brute.count { case (p, s) => !ivfRef.get(p).contains(s) }} of $Probes probes")
  }

  private def checkIvf(ctx: Ctx, rows: Array[Row]): Unit = {
    val got = rows.groupBy(_.getAs[Long]("probe_id"))
    for ((p, rs) <- got; r <- rs) {
      val id = r.getAs[Long]("vec_id")
      val want = round6(cos(vecs(p), vecs(id)))
      if (math.abs(r.getAs[Double]("cos") - want) > 1e-6)
        throw new IllegalStateException(s"probe $p, vector $id: cos ${r.getAs[Double]("cos")}, exact $want")
    }
    val short = ivfRef.keys.filter(p => got.get(p).map(_.map(_.getAs[Long]("vec_id")).distinct.length) != Some(K))
    if (short.nonEmpty || got.size != ivfRef.size)
      throw new IllegalStateException(s"${got.size} probes answered, ${short.size} without $K distinct neighbours")
    val hits = ivfRef.map { case (p, ids) => (ids intersect got(p).map(_.getAs[Long]("vec_id")).toSet).size }.sum
    val recall = hits.toDouble / ivfRef.values.map(_.size).sum
    ctx.add("operators.ivf_recall_at_10", recall)
    if (recall < RecallFloor)
      throw new IllegalStateException(s"recall@$K $recall below the floor $RecallFloor")
  }

  /** Every vector once; dropped exactly where a lower id of the same
    * cluster lies at cosine >= Threshold, and never outside `dupRef`. */
  private def checkTwoLevel(rows: Array[Row]): Unit = {
    val ids = rows.map(_.getAs[Long]("vec_id"))
    if (ids.length != vecs.size || ids.toSet != vecs.keySet)
      throw new IllegalStateException(s"${ids.length} rows for ${vecs.size} vectors")
    val want = rows.groupBy(r => r.get(r.fieldIndex("cluster_id"))).values.flatMap { rs =>
      val m = rs.map(_.getAs[Long]("vec_id")).sorted
      for (a <- m.indices; b <- a + 1 until m.length
           if cos(vecs(m(a)), vecs(m(b))) >= Threshold) yield m(b)
    }.toSet
    val got = rows.filter(_.getAs[Boolean]("is_dropped")).map(_.getAs[Long]("vec_id")).toSet
    if (got != want || !got.subsetOf(dupRef))
      throw new IllegalStateException(s"dropped ${got.size} vectors; within-cluster reference " +
        s"${want.size}, corpus-wide ${dupRef.size}")
  }

  private def checkText(rows: Array[Row]): Unit = {
    val got = rows.map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"), r.getAs[Double]("jac"))).toSet
    if (got != textRef)
      throw new IllegalStateException(s"${got.size} pairs, reference ${textRef.size}; " +
        s"first difference ${(got diff textRef).headOption.orElse((textRef diff got).headOption)}")
  }

  val ops: Seq[Op] = Seq("ann_ivf_twolevel", "semantic_dedup_twolevel",
    "embed_neardup").map(Workload.query) ++ Seq(
    Op("op_ivf_topk", ctx => {
      val emb = corpus(ctx)
      val rows = ctx.timed("operators.ivf_topk_s") {
        val cents = SimilaritySearch.trainIvf(emb, "vec_id", "embedding", NList)
        SimilaritySearch.topKCosineIvf(probes, "vec_id", emb, "vec_id", "embedding",
          K, NList, NProbe, Some(cents)).collect()
      }
      () => { checkIvf(ctx, rows); Fingerprint.of(rows.toSeq) }
    }),
    Op("op_twolevel_dedup", ctx => {
      val rows = ctx.timed("operators.twolevel_dedup_s") {
        SimilaritySearch.semanticDedupTwoLevel(corpus(ctx), "vec_id", "embedding",
          coarseK = 4, subK = 4, threshold = Threshold).collect()
      }
      () => { checkTwoLevel(rows); Fingerprint.of(rows.toSeq) }
    }),
    Op("op_text_dedup", ctx => {
      val docs = Tables(ctx.spark, ctx.dir, "documents")
      val rows = ctx.timed("operators.text_dedup_s") {
        Dedup.nearDupPairs(docs, "doc_id", "text", n = 3, threshold = TextThreshold).collect()
      }
      () => { checkText(rows); Fingerprint.of(rows.toSeq) }
    }))
}

/** Exact word n-gram Jaccard pairs outside Spark: the reference for
  * `Dedup.nearDupPairs`. Text is normalized as `TextFunctions.normalize`
  * does (whitespace runs to one space, trimmed, lower case). */
object TextReference {
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.replaceAll("\\s+", " ").dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .toLowerCase.split(" ", -1)
    if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** (i, j, jaccard rounded to 6 dp) for i < j and jaccard >= threshold,
    * counted through an inverted index of the shingles. */
  def pairs(docs: Seq[(Long, String)], n: Int, threshold: Double): Set[(Long, Long, Double)] = {
    val sets = docs.map { case (id, t) => id -> shingles(t, n) }.filter(_._2.nonEmpty).toMap
    val shared = scala.collection.mutable.HashMap[(Long, Long), Int]()
    for (posting <- sets.toSeq.flatMap { case (id, s) => s.map(_ -> id) }.groupMap(_._1)(_._2).values) {
      val ds = posting.sorted
      for (a <- ds.indices; b <- a + 1 until ds.length)
        shared((ds(a), ds(b))) = shared.getOrElse((ds(a), ds(b)), 0) + 1
    }
    shared.iterator.map { case ((i, j), c) => (i, j, c.toDouble / (sets(i).size + sets(j).size - c)) }
      .filter(_._3 >= threshold)
      .map { case (i, j, jac) => (i, j, BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toSet
  }
}

/** The `read_*`/`to_*` surface: each op writes a seeded sample of
  * lineitem rows through one source and reads it back. */
class IoRoundtrip extends Workload {
  val passSeconds = 3.9
  val tables = Seq("lineitem")
  /** Rows per format, sized so that no format dominates a pass. */
  val Rows: Map[String, Int] = Map("csv" -> 20000, "json" -> 20000,
    "parquet" -> 40000, "avro" -> 40000, "xlsx" -> 8000, "sql" -> 8000,
    "stream" -> 20000)
  private var sample: Array[Row] = _
  /** Sorted canonical rows of each format's slice: what a read must give back. */
  private var want: Map[String, Array[String]] = Map.empty
  private var names: Array[String] = _
  private var schema: StructType = _
  private var streamIn: String = _

  private def frame(ctx: Ctx, n: Int): DataFrame =
    ctx.spark.createDataFrame(sample.take(n).toSeq.asJava, schema)

  override def prepare(ctx: Ctx): Seq[String] = {
    // the seed draws the sample from the lineitem pool: longs, doubles
    // with cents, dates, strings, and nulls put in where the line
    // number is 7 or 1
    val li = ctx.spark.table("lineitem")
    val df = li.orderBy(xxhash64(lit(ctx.seed) +: li.columns.toSeq.map(col): _*))
      .limit(Rows.values.max)
      .select(col("l_orderkey"),
        when(col("l_linenumber") =!= 7, col("l_partkey")).as("l_partkey"),
        col("l_extendedprice"), col("l_discount"),
        to_date(col("l_shipdate")).as("l_shipdate"),
        col("l_returnflag"),
        when(col("l_linenumber") =!= 1, col("l_linestatus")).as("l_linestatus"))
    sample = df.collect()
    schema = df.schema
    names = df.columns.sorted
    want = Rows.map { case (fmt, n) => fmt -> sample.take(n).map(key).sorted }
    streamIn = s"${ctx.work}/stream-in"
    frame(ctx, Rows("stream")).repartition(2).write.mode("overwrite").parquet(streamIn)
    Nil
  }

  private def bytesUnder(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")).map(Files.size(_)).sum
      finally s.close()
    }
  }

  private def remove(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  /** A row by column name, so formats that reorder columns compare. */
  private def key(r: Row): String =
    names.map(c => Fingerprint.canon(r.get(r.fieldIndex(c)))).mkString("\u0001")

  /** Rows read back against the rows written. */
  private def check(fmt: String, back: Array[Row]): Fingerprint = {
    val w = want(fmt)
    val got = back.map(key).sorted
    if (!(w sameElements got)) {
      val diff = w.diff(got).headOption.getOrElse("") + " / " + got.diff(w).headOption.getOrElse("")
      throw new IllegalStateException(s"read back ${got.length} rows, wrote ${w.length}; first difference: $diff")
    }
    Fingerprint(got.length, got.iterator.map(k => MurmurHash3.stringHash(k).toLong).sum)
  }

  private def fileOp(fmt: String, write: (DataFrame, String) => Unit,
                     read: (SparkSession, String) => DataFrame): Op =
    Op(s"io_$fmt", ctx => {
      val n = Rows(fmt)
      val path = s"${ctx.work}/io/$fmt-${ctx.opId}"
      val df = frame(ctx, n)
      try {
        ctx.timed(s"sources.$fmt.write_s")(write(df, path))
        ctx.add(s"sources.$fmt.bytes_per_row", bytesUnder(path).toDouble / n)
        val back = ctx.timed(s"sources.$fmt.read_s")(read(ctx.spark, path).collect())
        () => check(fmt, back)
      } finally remove(path)
    })

  private def sqlOp: Op = Op("io_sql", ctx => {
    val n = Rows("sql")
    val db = s"${ctx.work}/derby"
    val url = s"jdbc:derby:$db;create=true"
    val table = s"IO_${ctx.opId}"
    val df = frame(ctx, n)
    val before = bytesUnder(db)
    try {
      ctx.timed("sources.sql.write_s")(SqlSource.write(df, url, table, "replace"))
      ctx.add("sources.sql.bytes_per_row", math.max(0L, bytesUnder(db) - before).toDouble / n)
      val back = ctx.timed("sources.sql.read_s")(SqlSource.readTable(ctx.spark, url, table).collect())
      () => check("sql", back)
    } finally {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().execute(s"DROP TABLE $table") finally c.close()
    }
  })

  private def streamOp: Op = Op("io_stream", ctx => {
    val base = s"${ctx.work}/io/stream-${ctx.opId}"
    try {
      val src = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(streamIn)
      val batches = ctx.timed("streaming.file_sink_s") {
        val q = StreamOps.toFileSink(src, s"$base/out", s"$base/ckpt")
        // the input is a fixed directory: drain it, then stop (the
        // available-now shape)
        try q.processAllAvailable() finally q.stop()
        q.recentProgress.count(_.numInputRows > 0)
      }
      ctx.add("streaming.batches", batches)
      val back = ctx.spark.read.parquet(s"$base/out").collect()
      () => check("stream", back)
    } finally remove(base)
  })

  val ops: Seq[Op] = Seq(
    fileOp("csv", CsvSource.write(_, _), CsvSource.read(_, _)),
    fileOp("json", JsonSource.write, (s, p) => JsonSource.read(s, p, multiLine = false)),
    fileOp("parquet", ParquetSource.save, ParquetSource.load),
    fileOp("avro", AvroSource.write, AvroSource.read),
    fileOp("xlsx", (df, p) => { new File(p).mkdirs(); ExcelSource.write(df, s"$p/data.xlsx") },
      (s, p) => ExcelSource.read(s, s"$p/data.xlsx")),
    sqlOp,
    streamOp)
}
