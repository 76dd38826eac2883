package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual scale smoke (not part of the driver gates): self-union the
  * corpus N× with shifted keys and run the operators whose scaling
  * behavior SCALE.md claims — verifying the candidate-generation joins
  * stay equi-join-shaped and wall time grows near-linearly, on data 1-2
  * orders of magnitude past the bench SF.
  *
  * Run: `SCALE_MULT=20 sbt "runMain graft.ScaleSmoke"`
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = sys.env.getOrElse("SCALE_MULT", "20").toInt
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-scale-smoke",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def amplify(df: DataFrame, idCol: String): DataFrame =
      (0 until mult).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale-smoke] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    val docs = amplify(Tables.documents(spark, d), "doc_id").cache()
    val nDocs = docs.count()
    println(s"[scale-smoke] mult=$mult docs=$nDocs")

    // The amplified corpus makes EVERY doc a `mult`-way exact duplicate —
    // the adversarial hot-shingle case: ~mult²/2 true pairs per text, so
    // exact near-dup verification is output-bound by construction.
    // The production composition: exact dedup first (collapses identical
    // texts in one cheap hash aggregate), near-dup only on survivors.
    time("dedup_exact (amplified)") {
      docs.groupBy("text").agg(min(col("doc_id"))).count()
    }
    time("minhash on exact-dedup survivors") {
      val survivors = docs.groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "text")
      graft.dedup.Dedup.minhashLshOf(survivors).count()
    }
    if (sys.env.contains("SCALE_SMOKE_FULL")) {
      // the raw quadratic case, for the record (output ~ mult² × planted)
      time("dedup_minhash (no pre-dedup)") {
        graft.dedup.Dedup.minhashLshOf(docs).count()
      }
      // Hot-shingle head-to-head on the shape prefix filtering is built
      // for: DISSIMILAR docs sharing boilerplate (license-header style).
      // The boilerplate shingles appear in every doc, so the plain
      // inverted join emits ~|boilerplate| × n²/2 candidate pairs that
      // all fail verification, while the frequency ordering evicts
      // exactly those shingles from every prefix. (A corpus of true
      // duplicates is NOT this case — there the output itself is
      // quadratic and no candidate filter can help.)
      val boiler = " copyright notice all rights reserved this document" +
        " is provided as is without warranty of any kind express or implied"
      val bdocs = Tables.documents(spark, d).limit(5000)
        .withColumn("text", concat(col("text"), lit(boiler)))
      time("ngram plain (boilerplate-hot)") {
        graft.dedup.Dedup.ngramJaccardOf(bdocs).count()
      }
      time("ngram prefix-filtered (boilerplate-hot)") {
        graft.dedup.Dedup.ngramJaccardPrefixOf(bdocs).count()
      }
    }
    time("simhash fingerprints") {
      graft.dedup.Dedup.simhashFingerprints(docs).count()
    }
    // round-5 scan-bandwidth stages: force the expensive columns
    // through an aggregate (a bare count would prune them away)
    time("gopher gates (amplified)") {
      graft.text.TextAnalysis.gopherGatesOf(docs)
        .agg(sum(col("dup_tri_frac")), sum(col("top_bigram_frac")))
        .collect(); nDocs
    }
    time("pii scrub (amplified)") {
      graft.text.TextAnalysis.piiScrubOf(docs)
        .agg(sum(col("red_len")), sum(col("n_emails"))).collect(); nDocs
    }
    // round-5b curation stages over the amplified corpus. span_scrub on
    // the raw amplification is adversarial by construction (every 5-gram
    // is a mult-way cross-doc duplicate → ~all positions covered); the
    // production composition scrubs AFTER exact dedup, same as minhash.
    time("span_scrub on exact-dedup survivors") {
      val survivors = docs.groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "text")
      graft.dedup.Dedup.spanScrubOf(survivors)
        .agg(sum(col("n_scrubbed"))).collect(); nDocs
    }
    time("nb_classify (amplified)") {
      val labeled = docs.withColumn("lang",
        concat(lit("l"), (col("doc_id") % 5).cast("string")))
      graft.text.TextAnalysis.nbClassifyOf(labeled).count()
    }
    time("dsir score+resample (amplified)") {
      val sourced = docs.withColumn("source",
        concat(lit("src"), (col("doc_id") % 20).cast("string")))
      graft.text.TextAnalysis.dsirResampleOf(sourced).count()
    }
    val embeddings = amplify(Tables.embeddings(spark, d), "vec_id").cache()
    println(s"[scale-smoke] vectors=${embeddings.count()}")
    time("lsh bucket keys (all vecs)") {
      embeddings.select(col("vec_id"), graft.functions.LshBucketKeysExpr.column(
        col("embedding").cast("array<double>"), Array.fill(32, 64)(0.5), 4)).count()
    }
    spark.stop()
  }
}
