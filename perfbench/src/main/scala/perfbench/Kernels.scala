package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans._

/** The kernel pass of the traced run: each `graft.plans` object with a
  * public `Column` API, evaluated over fixed columns of the benchmark's
  * generated tables. Inputs are cached first, so a figure is the
  * kernel's projection (or aggregate) and a `noop` write, per input row.
  * Where a built-in Spark expression gives the same result, it is timed
  * as a twin, and the two are checked to agree on every row.
  */
object Kernels {
  val Reps = 3

  final case class Kernel(name: String, input: String,
                          run: DataFrame => DataFrame,
                          twin: Option[DataFrame => DataFrame] = None)

  private def proj(c: DataFrame => Column): DataFrame => DataFrame =
    df => df.select(c(df).as("k"))

  private val letters = ('a' to 'z').map(_.toString)

  val kernels: Seq[Kernel] = Seq(
    Kernel("WordShingleHashes", "docs",
      proj(d => WordShingleHashes(d("text"), 3)),
      Some(proj(d => array_distinct(transform(
        graft.operators.TextAnalysis.shingles(d("text"), 3),
        graft.functions.StableHash.stableHash60(_)))))),
    Kernel("RollingShingleHashes", "docs",
      proj(d => RollingShingleHashes(d("text"), 5))),
    Kernel("NfcNormalize", "docs", proj(d => NfcNormalize(d("text")))),
    Kernel("NfkcNormalize", "docs", proj(d => NfkcNormalize(d("text")))),
    Kernel("LzMatchedChars", "docs", proj(d => LzMatchedChars(d("text")))),
    Kernel("MultiPatternCount", "docs",
      proj(d => MultiPatternCount(d("text"), Seq("spark", "data", "the a")))),
    Kernel("AdjacentPairs", "docs",
      proj(d => AdjacentPairs.concatenated(split(d("text"), " ")))),
    Kernel("MergeListFold", "words",
      proj(d => MergeListFold(split(d("word"), ""),
        Seq(("t", "h"), ("th", "e"), ("a", "t"))))),
    Kernel("UnigramSegment", "words",
      proj(d => UnigramSegment(d("word"), letters ++ Seq("th", "the", "at"),
        letters.map(_ => 10L) ++ Seq(12L, 13L, 12L)))),
    Kernel("WordPieceSegment", "words",
      proj(d => WordPieceSegment(d("word"),
        letters ++ letters.map("##" + _) ++ Seq("the", "##at")))),
    Kernel("SortedLongArrayIntersectSize", "shingle_pairs",
      proj(d => SortedLongArrayIntersectSize(d("a"), d("b"))),
      Some(proj(d => size(array_intersect(d("a"), d("b"))).cast("bigint")))),
    Kernel("SortedLongArrayIntersectSizeAtLeast", "shingle_pairs",
      proj(d => SortedLongArrayIntersectSizeAtLeast(d("a"), d("b"),
        (size(d("a")) * 0.5).cast("double")))),
    Kernel("QuantizeFloats", "vectors",
      proj(d => QuantizeFloats(d("embedding"), 1000)),
      Some(proj(d => transform(d("embedding"),
        x => floor(x.cast("double") * 1000))))),
    Kernel("LongArrayDot", "vector_pairs",
      proj(d => LongArrayDot(d("qa"), d("qb"))),
      Some(proj(d => aggregate(zip_with(d("qa"), d("qb"), _ * _),
        lit(0L), _ + _)))),
    Kernel("QCosineGateExpr", "vector_pairs",
      proj(d => QCosineGateExpr(d("qa"), d("qb"), d("na"), d("nb"), 1, 10)),
      Some(proj { d =>
        val dot = aggregate(zip_with(d("qa"), d("qb"), _ * _), lit(0L), _ + _)
        dot > 0 && dot * dot * 100 >= d("na") * d("nb")
      })),
    Kernel("OverlapPairArray", "postings",
      proj(d => OverlapPairArray(d("ds")))),
    Kernel("TopKPairsAgg", "vector_pairs",
      df => df.groupBy((col("id") % 64).as("g"))
        .agg(TopKPairsAgg(col("score"), col("id"), 5, distinctIds = true).as("k")),
      Some(df => df.groupBy((col("id") % 64).as("g")).agg(expr(
        "slice(array_sort(collect_set(struct(score, id)), (l, r) -> " +
          "CASE WHEN l.score > r.score THEN -1 WHEN l.score < r.score THEN 1 " +
          "WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1 ELSE 0 END), 1, 5)")
        .as("k")))),
    Kernel("InterleaveBits", "lineitem",
      proj(d => InterleaveBits(d("l_orderkey"), d("l_partkey")))),
    Kernel("IcebergBucket", "lineitem",
      proj(d => IcebergBucket(d("l_orderkey"), 16))),
    Kernel("DecSum", "lineitem",
      df => df.groupBy("l_returnflag")
        .agg(DecSum.asDouble(col("l_extendedprice"), 2).as("k")),
      Some(df => df.groupBy("l_returnflag")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("k")))),
  )

  /** The fixed inputs, copied, cached and counted. */
  def inputs(spark: SparkSession, dir: String): Map[String, (DataFrame, Long)] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      sort_array(WordShingleHashes(col("text"), 3)).as("s"))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = vecs.select(col("vec_id"),
      QuantizeFloats(col("embedding"), 1000).as("q"))
    val byId = q.select((col("vec_id") + 1).as("vec_id"), col("q").as("qb"))
    val small = docs.filter(col("doc_id") < 2000)
    val frames = Map(
      "docs" -> docs,
      "words" -> docs.select(explode(split(col("text"), " ")).as("word")),
      "shingle_pairs" -> sh.as("x").join(
        sh.select((col("doc_id") + 1).as("doc_id"), col("s").as("b")), "doc_id")
        .select(col("s").as("a"), col("b")),
      "vectors" -> vecs,
      "vector_pairs" -> q.withColumnRenamed("q", "qa").join(byId, "vec_id")
        .select(col("vec_id").as("id"), col("qa"), col("qb"),
          LongArrayDot(col("qa"), col("qa")).as("na"),
          LongArrayDot(col("qb"), col("qb")).as("nb"),
          (col("vec_id") * 7919 % 1000).as("score")),
      "postings" -> small.select(col("doc_id"),
          explode(WordShingleHashes(col("text"), 3)).as("h"))
        .groupBy("h").agg(sort_array(collect_list(
          struct(col("doc_id"), lit(1).as("n")))).as("ds")),
      "lineitem" -> spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_returnflag", "l_extendedprice"),
    )
    frames.map { case (k, df) =>
      val c = df.withColumn("rep", explode(sequence(lit(1), lit(Copies(k)))))
        .drop("rep").repartition(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_ONLY)
      k -> (c, c.count())
    }
  }

  /** Copies of each input, so a kernel's per-row work outweighs the
    * per-job cost of its `noop` write. */
  val Copies: Map[String, Int] = Map("docs" -> 20, "words" -> 2,
    "shingle_pairs" -> 20, "vectors" -> 20, "vector_pairs" -> 20,
    "postings" -> 20, "lineitem" -> 10)

  private def bestSeconds(df: => DataFrame): Double =
    (1 to Reps).map { _ =>
      val t = System.nanoTime()
      Harness.noop(df)
      (System.nanoTime() - t) / 1e9
    }.min

  /** `kernel.<Object>.ns_per_row` (and `.builtin_ns_per_row` for twins),
    * and the kernels whose twin disagreed. */
  def run(spark: SparkSession, dir: String): (Map[String, Double], Seq[String]) = {
    val in = inputs(spark, dir)
    val mismatches = Seq.newBuilder[String]
    val metrics = kernels.flatMap { k =>
      val (df, rows) = in(k.input)
      val own = s"kernel.${k.name}.ns_per_row" ->
        bestSeconds(k.run(df)) * 1e9 / rows
      own +: k.twin.toSeq.map { t =>
        val diff = sortedRows(k.run(df)) != sortedRows(t(df))
        if (diff) mismatches += k.name
        s"kernel.${k.name}.builtin_ns_per_row" -> bestSeconds(t(df)) * 1e9 / rows
      }
    }.toMap
    in.values.foreach(_._1.unpersist())
    (metrics, mismatches.result())
  }

  /** Order-free digest of a result: the multiset of rows as strings. */
  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*"))).as("j")).collect().map(_.getString(0))
      .sorted.toSeq
}
