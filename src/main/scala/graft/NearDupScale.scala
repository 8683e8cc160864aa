package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}

/** sf1-scale NEAR-duplicate fixture + benchmark for the dedup family.
  *
  * The verbatim-replica sf1 probe (BASELINE.md) duplicates content
  * exactly — the pre-collapse paths' best case. This pair of mains
  * builds a corpus with *controlled-distance mutated copies* and
  * measures wall + recall there, which is the honest workload for
  * banded LSH:
  *
  * [[MakeNearDupData]]: from sf0.1's documents (5 000) and embeddings
  * (2 000), write 10 copies of each row: copy 0 the original, copy 1 a
  * byte-identical duplicate (exact-dup pressure stays in the mix),
  * copies 2-9 mutated at increasing edit distance — documents replace
  * `(j-1)/20` of tokens (5%…40%, unique replacement per copy so copies
  * also differ from each other), embeddings add deterministic noise of
  * magnitude `0.08·(j-1)`. ids are `orig_id * 10 + j`, so ground-truth
  * groups are recoverable as `id div 10` with no side table.
  *
  * [[DedupScaleBench]]: runs minhash / simhash / embedding-LSH
  * near-dup detection on that corpus, timing each, and measures
  * RECALL against the planted truth — intra-group pairs whose exact
  * similarity (the same word-shingle Jaccard / cosine the verifiers
  * use) clears the threshold. Emits one JSON line.
  */
object MakeNearDupData {
  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1_neardup")
    val spark = GraftSession.getOrCreate()

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .withColumn("j", explode(sequence(lit(0), lit(9))))
      .withColumn("new_id", col("doc_id") * 10 + col("j"))
      .withColumn("text", when(col("j") <= 1, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), " "), (t, i) =>
          when(pmod(i, lit(20)) < col("j") - 1,
            concat(lit("m"), col("new_id").cast("string"), lit("p"), i.cast("string")))
            .otherwise(t)))))
      .select(col("new_id").as("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).as("n_chars"))
    docs.repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .withColumn("j", explode(sequence(lit(0), lit(9))))
      .withColumn("new_id", col("vec_id") * 10 + col("j"))
      .withColumn("embedding", when(col("j") <= 1, col("embedding")).otherwise(
        transform(col("embedding"), (x, i) =>
          (x + (col("j") - 1) * 0.08 *
            (pmod(xxhash64(col("new_id"), i), lit(1000L)).cast("double") / 1000.0 - 0.5))
            .cast("float"))))
      .select(col("new_id").as("vec_id"), col("embedding"), col("label"))
    emb.repartition(8).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    println(s"""{"documents": ${spark.read.parquet(s"$outDir/documents.parquet").count()}, """ +
      s""""embeddings": ${spark.read.parquet(s"$outDir/embeddings.parquet").count()}, "dir": "$outDir"}""")
    spark.stop()
  }
}

object DedupScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sf1_neardup")
    val spark = GraftSession.getOrCreate()
    import spark.implicits._

    def timed[T](label: String)(f: => T): (T, Double) = {
      System.err.println(s"[dedup-bench] $label ...")
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[dedup-bench] $label done in $dt%.1fs")
      (r, dt)
    }
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("a_id").cast("long"), col("b_id").cast("long"))
        .as[(Long, Long)].collect().toSet

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")

    // ---- minhash: wall + recall vs exact word-shingle Jaccard truth
    val jaccThreshold = 0.5
    val (mhPairs, mhSec) = timed("minhash") {
      pairSet(Dedup.minhashNearDups(docs, "doc_id", "text", threshold = jaccThreshold))
    }
    // planted truth: intra-group pairs (group = id div 10) whose exact
    // Jaccard — same shingle set the verifier uses — clears threshold
    val sh = docs.select(col("doc_id"), (col("doc_id") / 10).cast("long").as("g"),
      array_distinct(TextAnalysis.shingles(col("text"), 3)).as("sh"))
    val aT = sh.select(col("g"), col("doc_id").as("a_id"), col("sh").as("sa"))
    val bT = sh.select(col("g"), col("doc_id").as("b_id"), col("sh").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val uni = (size(col("sa")) + size(col("sb"))).cast("double") - inter
    val (mhTruth, _) = timed("minhash-truth") { pairSet(aT.join(bT, Seq("g")).where(col("a_id") < col("b_id"))
      .withColumn("jac", when(uni > 0, inter / uni).otherwise(0.0))
      .where(col("jac") >= jaccThreshold)) }
    val mhRecall = mhTruth.count(mhPairs) / math.max(1.0, mhTruth.size)

    // ---- simhash: wall (banding is pigeonhole-EXACT for hamming ≤ 3,
    // so there is no recall to measure — property-tested elsewhere)
    val (shPairs, shSec) = timed("simhash") {
      pairSet(Dedup.simhashNearDups(Dedup.simhash(docs, "doc_id", "text"), "doc_id"))
    }

    // ---- embedding LSH: wall + recall vs exact intra-group cosine
    val cosThreshold = 0.8
    val (emPairs, emSec) = timed("embed_lsh") {
      pairSet(Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        threshold = cosThreshold, planes = 8, dim = 64))
    }
    val ev = emb.select(col("vec_id"), (col("vec_id") / 10).cast("long").as("g"),
      graft.ops.Similarity.toDoubleVec(col("embedding")).as("v"))
    val aE = ev.select(col("g"), col("vec_id").as("a_id"), col("v").as("va"))
    val bE = ev.select(col("g"), col("vec_id").as("b_id"), col("v").as("vb"))
    val (emTruth, _) = timed("embed-truth") { pairSet(aE.join(bE, Seq("g")).where(col("a_id") < col("b_id"))
      .withColumn("cos", graft.ops.Similarity.dot(col("va"), col("vb"))
        / (graft.ops.Similarity.l2norm(col("va")) * graft.ops.Similarity.l2norm(col("vb"))))
      .where(col("cos") >= cosThreshold)) }
    val emRecall = emTruth.count(emPairs) / math.max(1.0, emTruth.size)

    // multi-table config: more planes per table (smaller buckets →
    // fewer candidates) × more tables (OR over collisions → recall)
    val (emMulti, emMultiSec) = timed("embed_lsh_8x12") {
      pairSet(Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        threshold = cosThreshold, planes = 12, dim = 64, tables = 8))
    }
    val emMultiRecall = emTruth.count(emMulti) / math.max(1.0, emTruth.size)

    // ---- cross-corpus contamination at scale: even-id half as the
    // training corpus, odd-id half as eval (mutated copies of the same
    // original land on both sides, so the planted leak rate is high)
    val evalDocs = docs.where(col("doc_id") % 2 === 1)
    val trainDocs = docs.where(col("doc_id") % 2 === 0)
    val (ctPairs, ctSec) = timed("contamination_text") {
      pairSet(Dedup.minhashContamination(evalDocs, trainDocs,
        "doc_id", "doc_id", "text", threshold = jaccThreshold)
        .select(col("left_id").as("a_id"), col("right_id").as("b_id")))
    }
    val (cePairs, ceSec) = timed("contamination_embed") {
      pairSet(Dedup.embeddingContamination(
        emb.where(col("vec_id") % 2 === 1), emb.where(col("vec_id") % 2 === 0),
        "vec_id", "vec_id", "embedding",
        threshold = cosThreshold, planes = 12, dim = 64, tables = 8)
        .select(col("left_id").as("a_id"), col("right_id").as("b_id")))
    }

    println(f"""{"minhash": {"sec": $mhSec%.1f, "pairs": ${mhPairs.size}, "truth": ${mhTruth.size}, "recall": $mhRecall%.4f}, """ +
      f""""simhash": {"sec": $shSec%.1f, "pairs": ${shPairs.size}}, """ +
      f""""embed_lsh": {"sec": $emSec%.1f, "pairs": ${emPairs.size}, "truth": ${emTruth.size}, "recall": $emRecall%.4f}, """ +
      f""""embed_lsh_8x12": {"sec": $emMultiSec%.1f, "pairs": ${emMulti.size}, "recall": $emMultiRecall%.4f}, """ +
      f""""contamination_text": {"sec": $ctSec%.1f, "pairs": ${ctPairs.size}}, """ +
      f""""contamination_embed": {"sec": $ceSec%.1f, "pairs": ${cePairs.size}}, "dir": "$dir"}""")
    spark.stop()
  }
}
