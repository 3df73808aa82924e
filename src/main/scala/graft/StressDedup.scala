package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.{Components, MinHashLSH, NgramJaccard}

/** Dedup-path stress sweep (diagnostic main, not part of the driver
  * contract): amplifies the sf0.1 documents corpus ~10× with a DELIBERATELY
  * hostile skew profile — a boilerplate family that lands thousands of
  * near-identical docs in the same LSH buckets (the shape that makes an
  * uncapped bucket expansion quadratic at 100 TB) plus bona-fide near-dup
  * clusters that must SURVIVE the cap — and drives the full
  * q19/q22/q24/q60 lineage over it, reporting bucket-size histograms,
  * the pair expansion the cap avoided, and wall times per stage.
  *
  * Run: `sbt 'runMain graft.StressDedup'` (optionally
  * SPARK_GRAFT_STRESS_COPIES to change the amplification factor).
  * Results are recorded in SURVEY.md §8b.
  */
object StressDedup {

  private def timed[A](label: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[stress] $label%-42s ${dt}%8.2f s")
    (a, dt)
  }

  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "10").toInt
    val spark = GraftSession.start()

    // ---- corpus: 5 000 sf0.1 docs × `copies`, three families by base id ----
    //  30% boilerplate: 7 distinct template texts shared by ~`0.3·N/7` docs
    //     each — the mega-bucket generator (every copy identical);
    //  40% near-dup: base text + a per-copy tail token — genuine clusters of
    //     size `copies` the pipeline must find;
    //  30% unique: per-copy salt woven in front — background noise.
    val base = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select(col("doc_id"), col("text"))
    val boiler = "terms of service apply to all content provided herein the provider " +
      "makes no warranty express or implied regarding availability merchantability " +
      "or fitness for a particular purpose all rights reserved contact support for details"
    val corpus = base
      .crossJoin(spark.range(copies).toDF("c"))
      .select(
        (col("doc_id") * copies + col("c")).as("doc_id"),
        when(col("doc_id") % 10 < 3,
            concat(lit(boiler + " variant "), (col("doc_id") % 7).cast("string")))
          .when(col("doc_id") % 10 < 7,
            concat(col("text"), lit(" tail"), col("c").cast("string")))
          .otherwise(concat(col("c").cast("string"), lit("salt"),
            col("doc_id").cast("string"), lit(" "), col("text"))).as("text"))
      .localCheckpoint() // one materialization; every stage reads this
    val n = corpus.count()
    println(s"[stress] corpus: $n docs (${copies}x amplification)")

    // ---- exact dedup (q20 shape) ----
    val (nTexts, _) = timed("exact dedup (md5 groups)") {
      corpus.groupBy(md5(col("text"))).count().count()
    }
    println(s"[stress]   distinct texts: $nTexts")

    // ---- shingle once (q24/q60 share it) ----
    val (sh, _) = timed("shingles (3-gram, distinct)") {
      val s = MinHashLSH.shingles(corpus, "doc_id", "text", 3).localCheckpoint()
      s.count(); s
    }

    // ---- bucket histogram + the expansion the cap avoids (q19's contract) --
    val (bandDf, _) = timed("signatures + banding (k=8, 4 bands)") {
      val b = MinHashLSH.bands(
        MinHashLSH.signatures(sh, "doc_id", 8), "doc_id", 4, 2).localCheckpoint()
      b.count(); b
    }
    val sizes = bandDf.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bs")).localCheckpoint()
    val pairExp = (col("bs") * (col("bs") - 1) / 2).cast("long")
    val hist = sizes
      .withColumn("bucket_pow2", floor(log2(col("bs"))).cast("int"))
      .groupBy("bucket_pow2")
      .agg(count(lit(1)).as("n_buckets"), sum(pairExp).as("pairs"))
      .orderBy("bucket_pow2").collect()
    println("[stress] band-bucket histogram (size 2^p .. 2^(p+1)-1):")
    hist.foreach(r => println(
      f"[stress]   2^${r.getInt(0)}%-3d n_buckets=${r.getLong(1)}%8d pair_expansion=${r.getLong(2)}%d"))
    val totalPairs = sizes.agg(sum(pairExp)).head().getLong(0)
    val cappedPairs = sizes.filter(col("bs") <= MinHashLSH.DefaultBucketCap)
      .agg(coalesce(sum(pairExp), lit(0L))).head().getLong(0)
    println(s"[stress] pair expansion uncapped=$totalPairs capped(1000)=$cappedPairs " +
      f"(cap avoids ${100.0 * (1 - cappedPairs.toDouble / totalPairs.toDouble)}%.1f%%)")

    // ---- capped candidates (q22) ----
    val (cand, _) = timed(s"candidates (cap=${MinHashLSH.DefaultBucketCap})") {
      val c = MinHashLSH.candidatePairs(bandDf, "doc_id", MinHashLSH.DefaultBucketCap)
        .localCheckpoint()
      c.count(); c
    }
    println(s"[stress]   candidate pairs: ${cand.count()}")

    // ---- verification (q24) ----
    val (edges, _) = timed("jaccard verify (>= 0.5)") {
      val e = NgramJaccard.verifyPairs(cand, sh, "doc_id")
        .filter(col("jaccard") >= 0.5).select(col("id_a"), col("id_b"))
        .localCheckpoint()
      e.count(); e
    }
    println(s"[stress]   verified edges: ${edges.count()}")

    // ---- clustering (q60) ----
    val (clusters, _) = timed("connected components") {
      Components.connectedComponents(corpus.select(col("doc_id")), "doc_id", edges)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_clusters"), max(col("sz")).as("max_size"),
          sum(when(col("sz") > 1, 1).otherwise(0)).as("nontrivial"))
        .head()
    }
    println(s"[stress]   clusters: ${clusters.getLong(0)} (max size ${clusters.getLong(1)}, " +
      s"non-singleton ${clusters.getLong(2)})")
    spark.stop()
  }
}
