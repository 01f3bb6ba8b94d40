package graft.ingestbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Dedup, Search}

/** `corpus_curate`: rounds of near-duplicate curation and search. Each
  * round takes a fresh seeded corpus through `Dedup.minhashLshPairs` →
  * `Dedup.connectedComponents` → survivors → `Search.buildIndex`, then
  * answers a fixed query set with `Search.topKIndexed`. The only workload
  * that runs the `llm` layer. */
final class CorpusCurate(seed: Long, cores: Int) extends Workload(seed, cores) {
  import CorpusCurate._

  private var dir: String = _
  private var round = 0
  private val queries = Gen.queries(seed, Queries)
  private val counters = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Survivors of the latest round, kept for the search check. */
  private var survivors: DataFrame = _

  def setUp(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    round = 0
    survivors = null // cached in the previous pass's (stopped) session
    step(spark, new Tracer(false), new Results, WarmupDocs)
  }

  private def input(spark: SparkSession, c: Gen.Corpus): DataFrame = {
    val rows = c.docs.map { case (id, text) => Row(id, text) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, cores), Schema).persist()
    df.count()
    df
  }

  /** One round: curation (timed as one batch), then the query set. */
  private def step(spark: SparkSession, tr: Tracer, res: Results, docCount: Int = Docs): Unit = {
    val r = round
    round += 1
    val corpus = Gen.corpus(seed, r, docCount)
    val docs = input(spark, corpus)
    if (survivors != null) survivors.unpersist()
    val dueMs = System.currentTimeMillis()
    val (groups, s) = Workload.timed {
      val pairs = tr.span("llm.minhash", r) {
        val p = Dedup.minhashLshPairs(docs, "id", "text").persist()
        if (tr.enabled) counters("llm.verified_pairs") += p.count()
        p
      }
      val groups = tr.span("llm.components", r)(Dedup.connectedComponents(pairs).persist())
      survivors = docs.join(groups.filter(col("id") =!= col("group_id")), Seq("id"), "left_anti").persist()
      tr.span("llm.index_build", r)(Search.buildIndex(survivors, "id", "text", s"$dir/index"))
      pairs.unpersist()
      groups
    }
    res.batch += s
    res.seconds += s
    res.rows += docCount
    res.fresh += (System.currentTimeMillis() - dueMs) / 1000.0
    if (tr.enabled) counters("llm.candidate_pairs") += candidatePairs(docs)

    // every injected verbatim copy must share its original's group
    val groupOf = groups.collect().map(g => g.getLong(0) -> g.getLong(1)).toMap
    val split = corpus.exactOf.count { case (i, j) => groupOf.get(i).isEmpty || groupOf.get(i) != groupOf.get(j) }
    res.op(split == 0, s"round $r: $split of ${corpus.exactOf.size} exact copies were not grouped with their original")
    groups.unpersist()
    docs.unpersist()
    Main.log(f"round $r: curation $s%.2f s")

    queries.zipWithIndex.foreach { case (q, i) =>
      val (hits, qs) = Workload.timed(tr.span("llm.query", r)(
        Search.topKIndexed(spark, s"$dir/index", q, TopK).select("id").collect().map(_.getLong(0)).toSeq))
      res.read += qs
      res.seconds += qs
      if (i < CheckedQueries) {
        val want = Search.bm25TopK(survivors, "id", "text", q, TopK).select("id").collect().map(_.getLong(0)).toSeq
        res.op(hits == want, s"round $r query ${q.mkString(" ")}: index top-$TopK $hits, scan $want")
      } else res.attempted += 1
    }
  }

  /** Traced run only: distinct doc pairs that share a MinHash LSH bucket
    * before verification, with the engine's default parameters (3-word
    * shingles, 32 hashes in 8 bands) and its band hash. */
  private def candidatePairs(docs: DataFrame): Double = {
    val bands = 8
    val r = 4
    val sig = docs.select(col("id"), Dedup.minhashSignature(col("text"), 3, bands * r).as("sig"))
    val bucketed = sig.select(col("id"), posexplode(array((0 until bands).map { b =>
      xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, r)))
    }: _*)).as(Seq("band", "bh")))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct().count().toDouble
  }

  def window(spark: SparkSession, tr: Tracer, seconds: Double, res: Results): Unit = {
    counters.clear()
    while (res.seconds < seconds) step(spark, tr, res)
  }

  def finish(spark: SparkSession, res: Results): Double = {
    val indexBytes = indexFiles.map(_.length()).sum
    indexBytes.toDouble / survivors.count()
  }

  private def indexFiles: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(s"$dir/index"))
  }

  def layers(spark: SparkSession, tr: Tracer, res: Results, fs: Map[String, (Long, Long)]): Map[String, Double] = {
    val byName = Trace.secondsByName(tr.spans)
    val cand = counters("llm.candidate_pairs")
    Map(
      "llm.minhash_s" -> byName.getOrElse("llm.minhash", 0.0),
      "llm.candidate_pairs" -> cand,
      "llm.verified_pairs" -> counters("llm.verified_pairs"),
      "llm.pair_yield" -> (if (cand > 0) counters("llm.verified_pairs") / cand else 0.0),
      "llm.index_build_s" -> byName.getOrElse("llm.index_build", 0.0),
      "llm.index_files" -> indexFiles.size.toDouble,
      "llm.query_s" -> byName.getOrElse("llm.query", 0.0))
  }
}

object CorpusCurate {
  val Docs = 4000
  val Queries = 20
  /** Queries per round also answered by a full `bm25TopK` scan and compared. */
  val CheckedQueries = 3
  val TopK = 10
  /** Docs of the one warm-up round each set-up pass runs (round 0). */
  val WarmupDocs = 1000
  val Schema: StructType = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
}
