package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.llm.{DedupOps, SimilarityOps}

/** Dev harness: one-off empirical checks that decide oracle strategy
  * for the approximate operators (LSH recall, SimHash pair structure,
  * IVF full-probe equivalence) on the fixed testdata.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.tuned(
        SparkSession.builder().master("local[16]")
          .config("spark.ui.enabled", "false"), 16)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (dir <- args) {
      println(s"=== $dir ===")
      val docs = Tables.load(spark, dir, "documents")

      // 1) LSH(bands=16) vs exact Jaccard pair set
      // uncapped — this is the EXACT baseline the LSH recall is judged
      // against, so it must not itself drop hot-shingle pairs
      val exact = DedupOps.jaccardPairs(
          DedupOps.wordShingles(docs, "doc_id", "text", 5), 1, 2,
          maxDocFreq = Int.MaxValue)
        .select("doc1", "doc2")
      val lsh16 = DedupOps.minHashLshPairs(docs, "doc_id", "text", 5, 64, 16, 1, 2)
        .select("doc1", "doc2")
      val nExact = exact.count(); val nLsh = lsh16.count()
      val missed = exact.except(lsh16).count()
      println(s"exact=$nExact lsh16=$nLsh missedByLsh16=$missed")

      // 1b) LSH recall sweep over banding parameters (VERDICT r5 item
      // 7): LSH pairs are exact-Jaccard-verified, so got ⊆ exact and
      // recall = |got| / |exact|. r = numHashes/bands rows per band;
      // theory P(candidate) = 1 − (1 − s^r)^bands at similarity s.
      for (numHashes <- Seq(64, 128); bands <- Seq(8, 16, 32)
           if numHashes % bands == 0) {
        val got = DedupOps.minHashLshPairs(docs, "doc_id", "text", 5,
            numHashes, bands, 1, 2)
          .select("doc1", "doc2")
        val hit = got.intersect(exact).count()
        println(f"minhash-lsh recall numHashes=$numHashes bands=$bands " +
          f"r=${numHashes / bands}: $hit/$nExact = ${hit.toDouble / nExact}%.4f")
      }

      // 2) simhash hamming<=3 pairs vs identical-text pairs
      val fps = DedupOps.simHash(docs, "doc_id", "text")
      val sh = DedupOps.simHashPairs(fps, maxHamming = 3)
      val identical = docs.as("a").join(docs.as("b"),
          col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      val nSh = sh.count(); val nId = identical.count()
      val shNotId = sh.select("doc1", "doc2").except(identical).count()
      val idNotSh = identical.except(sh.select("doc1", "doc2")).count()
      val maxHam = sh.agg(max("hamming")).head().get(0)
      println(s"simhash<=3=$nSh identicalText=$nId shNotId=$shNotId idNotSh=$idNotSh maxHam=$maxHam")

      // 3) IVF full probe == brute force
      val emb = Tables.load(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 10 === 0)
      val bf = SimilarityOps.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      val full = SimilarityOps.ivfTopK(queries, emb, "vec_id", "embedding", 5, 16, 16)
      val diff = bf.except(full).count() + full.except(bf).count()
      println(s"fullProbeVsBrute diff=$diff")

      // 4) recall@5 on the real embeddings: id-seeded vs kmeans-refined
      val truth = bf.select("query_id", "neighbor_id")
      val nTruth = truth.count()
      for (iters <- Seq(0, 1, 2, 3); nProbe <- Seq(1, 2, 4)) {
        val got = SimilarityOps.ivfTopK(queries, emb, "vec_id", "embedding",
            5, 16, nProbe, iters)
          .select("query_id", "neighbor_id")
        val recall = got.intersect(truth).count().toDouble / nTruth
        println(f"ivf recall@5 nProbe=$nProbe iters=$iters: $recall%.4f")
      }

      // 4b) RHP LSH recall@5 on the real embeddings across
      // (nBits, probeHamming); full probe must be exact (diff=0)
      val rhpFull = SimilarityOps.rhpTopK(queries, emb, "vec_id", "embedding",
        5, nBits = 4, probeHamming = 4)
      val rhpDiff = bf.except(rhpFull).count() + rhpFull.except(bf).count()
      println(s"rhpFullProbeVsBrute diff=$rhpDiff")
      for (nBits <- Seq(6, 8); ham <- Seq(0, 1, 2); tables <- Seq(1, 4, 8)) {
        val got = SimilarityOps.rhpTopK(queries, emb, "vec_id", "embedding",
            5, nBits, ham, tables)
          .select("query_id", "neighbor_id")
        val recall = got.intersect(truth).count().toDouble / nTruth
        println(f"rhp recall@5 nBits=$nBits hamming=$ham tables=$tables: $recall%.4f")
      }

      // 4c) PQ / IVF-PQ recall@5 on the real embeddings; the exact
      // case (per-point codebooks) must match brute force (diff=0)
      val cbExact = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding", 2, 1 << 20, 0)
      val pqExact = SimilarityOps.pqTopK(queries, emb, "vec_id", "embedding", 5, cbExact, 2)
      val pqDiff = bf.except(pqExact).count() + pqExact.except(bf).count()
      println(s"pqExactCaseVsBrute diff=$pqDiff")
      for (m <- Seq(4, 8); nCodes <- Seq(16, 64); refine <- Seq(0, 20)) {
        val cb = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding", m, nCodes, 1)
        val got = SimilarityOps.pqTopK(queries, emb, "vec_id", "embedding",
            5, cb, m, refine).select("query_id", "neighbor_id")
        val recall = got.intersect(truth).count().toDouble / nTruth
        println(f"pq recall@5 M=$m codes=$nCodes refine=$refine: $recall%.4f")
      }
      for ((np, refine) <- Seq((2, 20), (4, 20))) {
        val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding", 16, 2)
        val cb = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding", 8, 64, 1)
        val got = SimilarityOps.ivfPqTopK(queries, emb, "vec_id", "embedding",
            5, cents, np, cb, 8, refine).select("query_id", "neighbor_id")
        val recall = got.intersect(truth).count().toDouble / nTruth
        println(f"ivfpq recall@5 nProbe=$np refine=$refine: $recall%.4f")
      }

      // 5) IVF near-dup pair recall vs the all-pairs baseline at 0.45;
      // pair cost model is nProbe²/K of N², so (K, nProbe) must keep
      // nProbe² << K to beat the baseline
      val basePairs = SimilarityOps.cosineNearDupPairs(emb, "vec_id", "embedding", 9, 20)
        .select("id_a", "id_b")
      val nBase = basePairs.count()
      for ((k, np) <- Seq((16, 2), (16, 4), (32, 2), (32, 4), (64, 4))) {
        val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding", k, 2)
        val got = SimilarityOps.cosineNearDupPairsIvf(emb, "vec_id", "embedding",
            9, 20, cents, np).select("id_a", "id_b")
        val hit = got.intersect(basePairs).count()
        println(s"neardup ivf K=$k nProbe=$np: $hit/$nBase pairs")
      }

      // 6) SemDeDup pair coverage: fraction of the true cosine>=0.45
      // pairs co-located in one k-means cell (the drop rule only sees
      // intra-cluster pairs — the paper's known recall limit of
      // cluster-scoped dedup), plus the resulting drop rate
      for (k <- Seq(16, 64)) {
        val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding", k, 2)
        val sd = SimilarityOps.semDedup(emb, "vec_id", "embedding", 9, 20, cents)
        val asg = sd.select(col("vec_id"), col("centroid_id"))
        val co = basePairs
          .join(asg.toDF("id_a", "ca"), "id_a")
          .join(asg.toDF("id_b", "cb"), "id_b")
          .filter(col("ca") === col("cb")).count()
        val dropped = sd.filter(!col("kept")).count()
        println(f"semdedup K=$k: pairCoverage $co/$nBase = " +
          f"${co.toDouble / math.max(nBase, 1)}%.4f dropped=$dropped/${sd.count()}")
      }
    }
    spark.stop()
  }
}
