package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import scala.collection.mutable

/** A corpus curation pipeline through public `graft.ext` functions,
  * one pass per `etl_batch` cycle: normalize → Gopher quality +
  * repetition filter → langid → exact dedup → MinHash-LSH pairs →
  * connected-component dedup → TF-IDF and vocabulary → exact and LSH
  * top-k over embeddings → shard write. Each step reads the previous
  * step's parquet and writes its own, so a step's span is all of its
  * work.
  *
  * The generated corpus carries injected near-duplicates (one word
  * appended or the last word replaced: Jaccard ≥ 0.81 on word
  * 3-shingles for the 12+ word documents), exact copies, short
  * documents the quality filter must drop, and query vectors perturbed
  * from corpus vectors, so the ground truth is known.
  */
final class CorpusCuration(seed: Long) {
  private val Docs = 600L
  private val Vectors = 800L
  private val Queries = 20L
  private val Dim = 32
  private val Clusters = 64L
  private val Threshold = 0.8
  private val TopK = 10

  private val langs = Seq("en", "de", "fr")
  private val stop = Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")
  private val perLang = 1200

  /** Seeded vocabulary: the stopwords, then `perLang` words per language. */
  private val vocab: IndexedSeq[String] = {
    val r = new java.util.Random(seed * 131 + 11)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < perLang * langs.size) {
      val n = 3 + r.nextInt(7)
      val w = (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      if (!stop.contains(w)) seen += w
    }
    (stop ++ seen).toIndexedSeq
  }

  /** Documents built on the driver from a seeded generator: the corpus
    * is small, and the engine only sees the written parquet. */
  private def docsFrame(spark: SparkSession): DataFrame = {
    val r = new java.util.Random(seed * 977 + 5)
    val rows = mutable.ArrayBuffer.empty[(Long, String, String)]
    (0L until Docs).foreach { id =>
      val lang = r.nextInt(langs.size)
      val short = r.nextInt(20) == 0 // ~5% fail the quality filter
      val nWords = if (short) 3 + r.nextInt(6) else 12 + r.nextInt(48)
      val words = (0 until nWords).map { _ =>
        if (r.nextInt(4) == 0) stop(r.nextInt(stop.size))
        else { val u = r.nextDouble(); vocab(stop.size + lang * perLang + (u * u * perLang).toInt) }
      }
      val text = words.mkString(" ")
      rows += ((id, langs(lang), text))
      if (r.nextInt(10) == 0) // a near-duplicate: one word appended or the last replaced
        rows += ((id + Docs, langs(lang),
          if (r.nextBoolean()) s"$text zqxj" else (words.init :+ "zqxj").mkString(" ")))
      if (r.nextInt(33) == 0) rows += ((id + 2 * Docs, langs(lang), text)) // an exact copy
    }
    docCount = rows.size
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "lang", "text")
  }

  private def vec(id: Column, salt: Int, noise: Double): Column = {
    val c = Gen.uni(seed, 70, Clusters, id)
    transform(sequence(lit(0), lit(Dim - 1)), j =>
      (Gen.frac(seed, 71, c, j) * 2 - 1 + (Gen.frac(seed, salt, id, j) - 0.5) * noise)
        .cast("float"))
  }

  def generate(spark: SparkSession, dir: String): Unit = {
    val k = spark.sparkContext.defaultParallelism
    Gen.write(docsFrame(spark).repartition(k), dir, "documents")
    val id = col("id")
    Gen.write(spark.range(0L, Vectors, 1L, k).select(id.as("vec_id"),
      vec(id, 72, 0.6).as("embedding")), dir, "embeddings")
    // each query is a corpus vector moved by a small perturbation
    val base = Gen.uni(seed, 73, Vectors, id)
    Gen.write(spark.range(0L, Queries, 1L, 1).select((id + 1000000L).as("q_id"),
      transform(vec(base, 72, 0.6), (x, j) =>
        (x + (Gen.frac(seed, 74, id, j) - 0.5) * 0.1).cast("float")).as("q_vec")),
      dir, "queries")
  }

  var docCount = 0L

  def inputs(dir: String): Map[String, Any] =
    Map("documents" -> docCount, "vectors" -> Vectors, "queries" -> Queries,
      "bytes" -> Seq("documents", "embeddings", "queries")
        .map(t => Bench.dirBytes(s"$dir/$t.parquet")).sum)

  private def step(dir: String, n: Int, s: String) = s"$dir/steps/p$n/$s"

  def cycle(ph: Phase, dir: String, n: Int): Unit = {
    val spark = ph.spark
    def rd(s: String) = spark.read.parquet(step(dir, n, s))
    // the caller owns what ext functions persist: drop it once a step's
    // output is written, so passes do not pile up cached blocks
    def wr(df: DataFrame, s: String): Unit = {
      df.write.mode("overwrite").parquet(step(dir, n, s))
      spark.catalog.clearCache()
    }
    import graft.ext.{LangId, Similarity, TextAnalysis, TextDedup, CorpusOps}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    ph.lib("ext", "normalize", rows = docCount) {
      wr(docs.select(col("doc_id"), col("lang"),
        graft.functions.TextExprs.nfcNormalize(col("text")).as("text")), "normalize")
    }
    ph.lib("ext", "quality") {
      wr(TextAnalysis.gopherFilter(rd("normalize"), minWords = 10)
        .filter(col("gopher_keep")).drop("gopher_keep", "gopher_reason"), "quality")
    }
    ph.lib("ext", "langid") {
      val q = rd("quality")
      wr(q.join(LangId.trainAndScore(q, q).select("doc_id", "pred_lang"), Seq("doc_id")), "langid")
    }
    ph.lib("ext", "exact_dedup") {
      wr(TextDedup.exact(rd("langid"), "text", "doc_id"), "exact_dedup")
    }
    ph.lib("ext", "minhash_pairs") {
      wr(TextDedup.minhashPairs(rd("exact_dedup"), "doc_id", "text", n = 3,
        threshold = Threshold), "pairs")
    }
    ph.lib("ext", "components") {
      val losers = TextDedup.components(rd("pairs"))
        .filter(col("id") =!= col("label")).select(col("id").as("doc_id"))
      wr(rd("exact_dedup").join(losers, Seq("doc_id"), "left_anti"), "deduped")
    }
    ph.lib("ext", "tfidf_vocab") {
      val d = rd("deduped")
      wr(TextAnalysis.tfidf(d, "doc_id", "text", minDocFreq = 2), "tfidf")
      wr(TextAnalysis.vocabulary(d), "vocab")
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val qs = spark.read.parquet(s"$dir/queries.parquet")
    ph.lib("ext", "exact_topk") { wr(Similarity.bruteTopK(qs, emb, TopK), "exact_topk") }
    ph.lib("ext", "lsh_topk") {
      wr(Similarity.lshTopK(qs, emb, TopK, maxHamming = 3, planes = 16), "lsh_topk")
    }
    ph.lib("ext", "shard_write") {
      CorpusOps.writeTrainingShards(rd("deduped"), "doc_id", "text", seqLen = 64,
        numShards = 8, path = step(dir, n, "shards"))
      spark.catalog.clearCache()
    }
  }

  private def shingles(text: String): Set[String] = {
    val t = text.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }
  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size

  /** Recall figures of the phase's first pass, set by `check`. */
  var recall = Map.empty[String, Double]

  def check(ph: Phase, dir: String): Seq[(String, Boolean)] = {
    val spark = ph.spark
    ph.passes.toSeq.flatMap { n =>
      def rd(s: String) = spark.read.parquet(step(dir, n, s))
      val key = lower(trim(col("text")))
      val ex = rd("exact_dedup")
      val exRows = ex.count()
      val oneEach = ex.select(key).distinct().count() == exRows &&
        rd("langid").select(key).distinct().count() == exRows
      val texts = ex.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val pairs = rd("pairs").select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      val sh = mutable.HashMap.empty[Long, Set[String]]
      def shOf(i: Long) = sh.getOrElseUpdate(i, shingles(texts(i)))
      val pairsOk = pairs.forall { case (a, b) =>
        texts.contains(a) && texts.contains(b) && jaccard(shOf(a), shOf(b)) >= Threshold - 1e-9
      }
      // injected near-duplicate pairs that reach the pair step intact
      val injected = texts.keys.filter(i => i >= Docs && i < 2 * Docs && texts.contains(i - Docs))
        .map(i => (i - Docs, i)).filter { case (a, b) => jaccard(shOf(a), shOf(b)) >= Threshold }
      val found = pairs.toSet
      val dedupRecall =
        if (injected.isEmpty) 1.0 else injected.count(found.contains).toDouble / injected.size
      val exact = rd("exact_topk").select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val lsh = rd("lsh_topk").select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val annRecall = exact.map { case (q, e) =>
        (e & lsh.getOrElse(q, Set.empty)).size.toDouble / e.size }.sum / math.max(1, exact.size)
      if (n == ph.passes.head) recall = Map("ext.dedup_recall" -> dedupRecall, "ext.ann_recall" -> annRecall,
        "ext.injected_pairs" -> injected.size.toDouble)
      Seq(s"pass $n exact dedup keeps one row per content" -> oneEach,
        s"pass $n every pair has Jaccard >= $Threshold" -> pairsOk,
        s"pass $n dedup recall ${"%.4f".format(dedupRecall)} >= 0.95" -> (dedupRecall >= 0.95),
        s"pass $n exact top-k has $TopK per query" -> exact.values.forall(_.size == TopK),
        s"pass $n ann recall ${"%.4f".format(annRecall)} >= 0.5" -> (annRecall >= 0.5))
    }
  }

  /** Bytes of the phase's step outputs, each written once. */
  def writtenOnceBytes(ph: Phase, dir: String): Long =
    ph.passes.map(n => Bench.dirBytes(s"$dir/steps/p$n")).sum
}
