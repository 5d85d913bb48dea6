package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.dfw.{AuditOps, FunnelOps, MergeOps, SplitOps, TransformOps, GridOps, PermOps, PreProcess, SliceOps, WindowOps}
import graft.llm.{DedupOps, GraphOps, IvfIndex, SimilarityOps, SketchOps, TextOps, MultimodalOps}
import graft.streaming.StreamOps

/** The engine's named queries and their DuckDB oracle SQL.
  *
  * Every query is a pure function of (SparkSession, sfDir) ending in an
  * explicit ORDER BY with full tiebreakers; the paired SQL mirrors the
  * semantics (and the IEEE arithmetic) exactly so the driver's
  * hash-compare passes. Column names are aliased identically on both
  * sides (the driver sorts columns by name before hashing).
  *
  * Float discipline: aggregates whose accumulation order could differ
  * between engines are rounded on BOTH sides; integer-valued doubles
  * (l_quantity) sum exactly in any order so they stay unrounded.
  */
object Queries {

  // ---------------------------------------------------------------
  // Shared fragments: the lineitem-as-feature-table mapping
  // (FIXTURES.md role mapping: cls = l_returnflag, deterministic
  // permutation key = multiplicative hash of the row key — same
  // arithmetic on both engines, no overflow: (999982*2654435761) < 2^63).
  // ---------------------------------------------------------------

  private val CV = 5

  // IVF coarse index over the embeddings table, persisted as a parquet
  // table beside the workload ([[graft.llm.IvfIndex]]) — the
  // index-once / query-many lifecycle an ANN index has at 100 TB: every
  // query loads the stored index; a build happens only when the index
  // is absent, its parameters changed, or the corpus row count drifted.
  // GRAFT_INDEX_DIR overrides where indexes live (object storage on a
  // real cluster). Full-probe queries are value-independent of the
  // centroids, so index reuse can never affect an oracle-checked
  // result.
  private def indexRoot: String =
    sys.env.getOrElse("GRAFT_INDEX_DIR",
      sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-indexes")

  /** Where the persisted IVF index for `dir`'s embeddings table lives.
    * Verify resolves the `__GRAFT_IVF_C<n>__` oracle-SQL placeholders
    * to this path at dump time, so the DuckDB oracle replays
    * probe→score→rank against the SAME parquet index table the engine
    * queries load — the approximate ANN queries become oracle-exact
    * instead of rows-only.
    */
  private[graft] def ivfIndexPath(dir: String, nCentroids: Int): String = {
    val corpusKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$indexRoot/emb_${corpusKey}_c$nCentroids"
  }
  private def embCentroids(s: SparkSession, dir: String, nCentroids: Int): DataFrame =
    IvfIndex.loadOrBuild(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      nCentroids, kmeansIters = 2, ivfIndexPath(dir, nCentroids))

  /** Corpus-adaptive IVF list count: target ~1000 vectors per inverted
    * list, floor 16. A FIXED nlist is the quadratic term the sf10
    * second-decade proof exposed: each probe set grows linearly with
    * the corpus, so the query×candidate product grows with N² across
    * decades (at sf10 the fixed-16 index put ~1B candidate pairs into
    * one join). Production IVF sizes nlist with the corpus (FAISS
    * guidance: N/1k…√N); with nlist ∝ N and fixed nProbe the probe-set
    * size is constant and the whole query cost is O(queries). The
    * fixed-16 queries stay as the oracle anchors at gate SFs.
    */
  private[graft] def adaptiveNlist(nVectors: Long): Int =
    math.max(16L, nVectors / 1000L).toInt

  private val nlistCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private[graft] def adaptiveNlistFor(s: SparkSession, dir: String): Int =
    nlistCache.computeIfAbsent(dir,
      _ => Int.box(adaptiveNlist(Tables.load(s, dir, "embeddings").count()))).intValue()

  /** Where the persisted IVF inverted lists for `dir` live; the
    * `__GRAFT_IVF_B<n>__` oracle placeholders resolve here.
    */
  private[graft] def ivfListsPath(dir: String, nCentroids: Int): String =
    ivfIndexPath(dir, nCentroids) + "_lists"

  /** Lists that have been MUTATED through the delete lifecycle: built
    * over the full embeddings corpus, then `vec_id % 7 == 0` removed
    * via [[graft.llm.IvfIndex.removeFromLists]] (O(delta) tombstones —
    * the stored data files still contain the rows; readers subtract).
    * `__GRAFT_IVF_D<n>__` oracle placeholders resolve here.
    */
  private[graft] def ivfDeletedListsPath(dir: String, nCentroids: Int): String =
    ivfIndexPath(dir, nCentroids) + "_dellists"

  /** The mutated-index artifact for [[ivfDeletedListsPath]],
    * established idempotently: when the stored sidecar already
    * reflects the post-delete corpus the whole sequence is a warm
    * load; otherwise build over the FULL corpus and run the O(delta)
    * delete against it — so what this returns is always a genuinely
    * tombstoned index, never a build over the filtered corpus.
    */
  private def embDeletedLists(s: SparkSession, dir: String, nCentroids: Int): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val after = emb.filter(col("vec_id") % 7 =!= 0)
    val path = ivfDeletedListsPath(dir, nCentroids)
    val cents = embCentroids(s, dir, nCentroids)
    if (!IvfIndex.listsFresh(after, nCentroids, 2, path)) {
      val preSig = IvfIndex.corpusSig(emb)
      IvfIndex.loadOrBuildLists(emb, "vec_id", "embedding", nCentroids, 2,
        cents, path, rebuild = true).count()
      val fastPath = IvfIndex.removeFromLists(
        emb.filter(col("vec_id") % 7 === 0).select("vec_id"),
        "vec_id", nCentroids, 2, after, path, preSig)
      require(fastPath, s"removeFromLists must take the O(delta) path against the fresh build at $path")
    }
    IvfIndex.loadOrBuildLists(after, "vec_id", "embedding", nCentroids, 2, cents, path)
  }

  /** Lists over the ANN-gate's FILTERED corpus (vec_id % 10 != 0) —
    * a separate artifact because the corpus-defining query differs
    * (and its sidecar signature carries the plan hash for exactly that
    * reason); `__GRAFT_IVF_G<n>__` placeholders resolve here.
    */
  private[graft] def ivfGateListsPath(dir: String, nCentroids: Int): String =
    ivfIndexPath(dir, nCentroids) + "_gatelists"

  /** Where the persisted MinHash-LSH index (shingles + banded buckets)
    * for `dir`'s documents table lives.
    */
  private def minhashIndexPath(dir: String): String = {
    val corpusKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$indexRoot/docs_${corpusKey}_minhash"
  }

  /** Where the persisted pHash fingerprint gate for `dir`'s corpus
    * images (doc_id % 7 != 3 — the already-ingested slice) lives.
    */
  private def phashGatePath(dir: String): String = {
    val corpusKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$indexRoot/docs_${corpusKey}_phashgate"
  }

  /** Where the persisted near-dup cluster labels for `dir`'s OLD
    * corpus (doc_id % 7 != 0 — the already-ingested slice the
    * incremental-clustering queries fold deltas into) live.
    */
  private def nearDupLabelsPath(dir: String): String = {
    val corpusKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$indexRoot/docs_${corpusKey}_oldlabels"
  }

  /** The stored `(doc_id, cluster_id)` labels over the old corpus —
    * the incremental-clustering premise as a durable artifact. Built
    * once (prepareIndexes) from the uncapped exact-Jaccard pairs so
    * the labels match the full-recompute oracle exactly; a warm call
    * is a bare parquet load under the sidecar freshness protocol.
    */
  private def oldNearDupLabels(s: SparkSession, dir: String): DataFrame = {
    val oldDocs = Tables.load(s, dir, "documents").filter(col("doc_id") % 7 =!= 0)
    DedupOps.loadOrBuildClusterLabels(oldDocs, "neardup:w=5,j=1/2,exact",
      nearDupLabelsPath(dir)) {
      DedupOps.clusterNearDups(
        DedupOps.jaccardPairs(
          DedupOps.wordShingles(oldDocs, "doc_id", "text", 5), 1, 2,
          maxDocFreq = Int.MaxValue))
    }
  }

  /** Where the persisted RHP index (buckets + quantized corpus) for
    * `dir`'s embeddings table lives.
    */
  private def rhpIndexPath(dir: String): String = {
    val corpusKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$indexRoot/emb_${corpusKey}_rhp"
  }

  /** Where the persisted per-source KMV sketch table for `dir`'s
    * documents lives.
    */
  private def kmvIndexPath(dir: String): String = {
    val corpusKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$indexRoot/docs_${corpusKey}_kmv"
  }

  private def embLists(s: SparkSession, dir: String, nCentroids: Int): DataFrame =
    IvfIndex.loadOrBuildLists(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      nCentroids, kmeansIters = 2, embCentroids(s, dir, nCentroids),
      ivfListsPath(dir, nCentroids))

  /** Materialize the shared IVF indexes for `dir` (idempotent). Index
    * construction is out-of-band in the index-once/query-many model;
    * Bench calls this before timing so the first query touching an
    * index is not charged for the build every other query reuses.
    */
  def prepareIndexes(s: SparkSession, dir: String): Unit = {
    // the adaptive count collapses to an already-listed size at gate
    // SFs; distinct keeps the big-corpus adaptive build single
    val na = adaptiveNlistFor(s, dir)
    (Seq(8, 16, 64) :+ na).distinct.foreach(n => embCentroids(s, dir, n).count())
    (Seq(16, 64) :+ na).distinct.foreach(n => embLists(s, dir, n).count())
    embDeletedLists(s, dir, 16).count()
    IvfIndex.loadOrBuildLists(
      Tables.load(s, dir, "embeddings").filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", 64, kmeansIters = 2,
      embCentroids(s, dir, 64), ivfGateListsPath(dir, 64)).count()
    DedupOps.loadOrBuildMinHashIndex(Tables.load(s, dir, "documents"),
      "doc_id", "text", shingleW = 5, numHashes = 64, bands = 16,
      minhashIndexPath(dir))._1.count()
    DedupOps.loadOrBuildMinHashGate(Tables.load(s, dir, "documents"),
      "doc_id", "text", shingleW = 5, numHashes = 64, bands = 16,
      minhashIndexPath(dir))._1.count()
    SimilarityOps.loadOrBuildRhpIndex(Tables.load(s, dir, "embeddings"),
      "vec_id", "embedding", nBits = 8, nTables = 8, parityTag = "md5",
      signParity = graft.functions.RhpSign.md5Parity, maxInputDim = 64,
      rhpIndexPath(dir))._1.count()
    oldNearDupLabels(s, dir).count()
  }

  // ---------------------------------------------------------------
  // DuckDB replica of Spark's xxhash64 over ONE BIGINT column — makes
  // production xxhash64-based queries oracle-EXACT instead of
  // rows-only. Spark's XxHash64 on a long hashes the 8-byte value with
  // seed 42 (XXH64: one round over the 8-byte tail + avalanche).
  // DuckDB has no wrapping 64-bit arithmetic, so u64 is emulated in
  // HUGEINT: values live in [0, 2^64); x*y mod 2^64 uses a split
  // multiply ((lo32(x)*y + (hi32(x)*y mod 2^32)*2^32) mod 2^64 — every
  // intermediate < 2^97, inside HUGEINT); rotl is shift-add (the two
  // halves can't overlap bits); xor round-trips through signed BIGINT.
  // ---------------------------------------------------------------
  private val U64 = "18446744073709551616" // 2^64

  /** `a * b mod 2^64` for u64 HUGEINT expressions (b a u64 literal). */
  private def mulmod(a: String, b: String): String =
    s"((($a) % 4294967296) * $b + (((($a) // 4294967296) * $b) % 4294967296) * 4294967296) % $U64"

  /** `rotl64(x, r)` for a u64 HUGEINT expression. */
  private def rotl(x: String, r: Int): String =
    s"((($x) * ${BigInt(2).pow(r)}) % $U64 + (($x) // ${BigInt(2).pow(64 - r)}))"

  /** `a xor b` for u64 HUGEINT expressions, via signed BIGINT. */
  private def xorU(a: String, b: String): String = {
    def s(x: String) = s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - $U64 ELSE ($x) END AS BIGINT)"
    s"((CAST(xor(${s(a)}, ${s(b)}) AS HUGEINT) + $U64) % $U64)"
  }

  /** CTE-chain fragment computing one XXH64-of-a-long round +
    * avalanche over u64 `inputExpr` with u64 seed `seedExpr`, for
    * every row of CTE `from`, carrying the `carry` columns through.
    * One MATERIALIZED CTE per stage: lateral column aliases (or plain
    * CTEs, which DuckDB inlines) would re-expand each stage into the
    * next — mulmod references its input 3×, xorU 4× — growing the
    * final expression tree to ~3^13 nodes, on which DuckDB's planner
    * dies of bad_alloc. Materialization pins each stage to a real
    * column; earlier columns fall away stage by stage, keeping the
    * materializations narrow. The final CTE `<p>` exposes
    * carry ++ (xx64u HUGEINT in [0, 2^64), xx64 signed BIGINT).
    *
    * Chaining (Spark's multi-arg xxhash64 feeds each argument's hash
    * in as the next seed): pass the previous fragment's `xx64u` as
    * `seedExpr`. Seed 42 + one long reproduces Spark's
    * `xxhash64(col)`; two chained fragments reproduce
    * `xxhash64(colA, colB)` (probe-verified against Spark).
    */
  private def xxh64Stages(p: String, from: String, carry: Seq[String],
                          inputExpr: String, seedExpr: String): String = {
    val P1 = "11400714785074694791"; val P2 = "14029467366897019727"
    val P3 = "1609587929392839161"; val P4 = "9650029242287828579"
    val c = if (carry.isEmpty) "" else carry.mkString("", ", ", ", ")
    def cte(i: Int, sel: String, src: String) =
      s"$p$i AS MATERIALIZED (SELECT $c$sel FROM $src)"
    val s = Seq(
      cte(1, s"((($inputExpr) % $U64 + $U64) % $U64) AS i0, " +
        s"(((($seedExpr) % $U64 + $U64) % $U64) + 2870177450012600269) % $U64 AS s0", from),
      cte(2, s"s0, ${mulmod("i0", P2)} AS k1a", s"${p}1"),
      cte(3, s"s0, ${rotl("k1a", 31)} AS k1b", s"${p}2"),
      cte(4, s"s0, ${mulmod("k1b", P1)} AS k1c", s"${p}3"),
      cte(5, s"${xorU("s0", "k1c")} AS h1", s"${p}4"),
      cte(6, s"${rotl("h1", 27)} AS h2", s"${p}5"),
      cte(7, s"${mulmod("h2", P1)} AS h3", s"${p}6"),
      cte(8, s"((h3 + $P4) % $U64) AS h4", s"${p}7"),
      cte(9, s"${xorU("h4", "h4 // 8589934592")} AS a1", s"${p}8"),
      cte(10, s"${mulmod("a1", P2)} AS a2", s"${p}9"),
      cte(11, s"${xorU("a2", "a2 // 536870912")} AS a3", s"${p}10"),
      cte(12, s"${mulmod("a3", P3)} AS a4", s"${p}11"),
      cte(13, s"${xorU("a4", "a4 // 4294967296")} AS xx64u", s"${p}12"),
      s"$p AS (SELECT ${c}xx64u, CAST(CASE WHEN xx64u >= 9223372036854775808 " +
        s"THEN xx64u - $U64 ELSE xx64u END AS BIGINT) AS xx64 FROM ${p}13)")
    s.mkString(",\n")
  }

  /** [[xxh64Stages]] specialized to Spark's `xxhash64(idCol)` over one
    * BIGINT column: final CTE `hx` carries ($idCol, xx64).
    */
  private def xxhash64LongCtes(from: String, idCol: String): String =
    xxh64Stages("hxs", from, Seq(idCol), s"CAST($idCol AS HUGEINT)", "42") +
      s",\nhx AS (SELECT $idCol, xx64 FROM hxs)"

  // ---------------------------------------------------------------
  // DuckDB replica of Spark's xxhash64 over an ASCII STRING column —
  // the full XXH64 byte algorithm (one 32-byte stripe of 4 lanes for
  // len in [32,63], then 8-byte words / 4-byte word / tail bytes /
  // avalanche), byte values via ascii(substr(...)) (valid because the
  // shingle corpus is pure ASCII — probed; a non-ASCII byte would
  // change length() vs byte length and hash-mismatch loudly). Strings
  // longer than 63 bytes produce NULL (loud failure), matching the
  // one-unrolled-stripe bound. Probe-verified against Spark for
  // lengths 1..47 including the >= 32 stripe path.
  // ---------------------------------------------------------------
  private val XP1 = "11400714785074694791"; private val XP2 = "14029467366897019727"
  private val XP3 = "1609587929392839161"; private val XP4 = "9650029242287828579"
  private val XP5 = "2870177450012600261"

  /** Little-endian u64/u32 word from `n` ASCII bytes of `s` at 1-based
    * offset expression `o`.
    */
  private def leWord(s: String, o: String, n: Int): String =
    (0 until n).map(j =>
      s"CAST(ascii(substr($s, CAST(($o)+$j AS BIGINT), 1)) AS HUGEINT) * ${BigInt(2).pow(8 * j)}")
      .mkString("(", " + ", ")")

  /** CTE-chain fragment computing Spark `xxhash64(strCol)` (full XXH64
    * over the string's ASCII bytes, len <= 63) with u64 seed
    * `seedExpr`, for every row of CTE `from`. Final CTE `<p>` exposes
    * carry ++ (__s, xx64u HUGEINT, xx64 signed BIGINT). Same one-op-
    * per-MATERIALIZED-stage discipline as [[xxh64Stages]].
    */
  private def xxh64AsciiStringStages(p: String, from: String, carry: Seq[String],
                                     strCol: String, seedExpr: String): String = {
    val c = if (carry.isEmpty) "" else carry.mkString("", ", ", ", ")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var n = 0
    def nxt(sel: String): Unit = {
      n += 1
      val src = if (n == 1) from else s"$p${n - 1}"
      out += s"$p$n AS MATERIALIZED (SELECT $c$sel FROM $src)"
    }
    nxt(s"$strCol AS __s, CAST(length($strCol) AS HUGEINT) AS __l, " +
      s"((($seedExpr) % $U64 + $U64) % $U64) AS __sd")
    nxt("__s, __l, __sd, CASE WHEN __l > 63 THEN NULL WHEN __l >= 32 THEN 1 ELSE 0 END AS __ns")
    // one 32-byte stripe: 4 lanes, each round(v, w) = rotl(v + w*P2, 31)*P1
    nxt("__s, __l, __sd, __ns, " + (0 until 4).map(k =>
      s"CASE WHEN __ns = 1 THEN ${leWord("__s", (8 * k + 1).toString, 8)} ELSE 0 END AS __w$k").mkString(", "))
    val inits = Seq(s"((__sd + $XP1 + $XP2) % $U64)", s"((__sd + $XP2) % $U64)",
      "__sd", s"((__sd + $U64 - $XP1) % $U64)")
    nxt("__s, __l, __sd, __ns, " + (0 until 4).map(k =>
      s"((${inits(k)}) + ${mulmod(s"__w$k", XP2)}) % $U64 AS __a$k").mkString(", "))
    nxt("__s, __l, __sd, __ns, " + (0 until 4).map(k =>
      s"${rotl(s"__a$k", 31)} AS __b$k").mkString(", "))
    nxt("__s, __l, __sd, __ns, " + (0 until 4).map(k =>
      s"${mulmod(s"__b$k", XP1)} AS __v$k").mkString(", "))
    nxt("__s, __l, __sd, __ns, __v0, __v1, __v2, __v3, " +
      s"((${rotl("__v0", 1)}) + (${rotl("__v1", 7)}) + (${rotl("__v2", 12)}) + (${rotl("__v3", 18)})) % $U64 AS __m0")
    // mergeRound per lane: m ^= rotl(v*P2, 31)*P1; m = m*P1 + P4
    for (k <- 0 until 4) {
      val rest = (k + 1 until 4).map(j => s"__v$j").mkString(", ") match {
        case "" => ""; case r => r + ", "
      }
      nxt(s"__s, __l, __sd, __ns, $rest${mulmod(s"__v$k", XP2)} AS __t$k, __m$k")
      nxt(s"__s, __l, __sd, __ns, $rest${rotl(s"__t$k", 31)} AS __u$k, __m$k")
      nxt(s"__s, __l, __sd, __ns, $rest${mulmod(s"__u$k", XP1)} AS __r$k, __m$k")
      nxt(s"__s, __l, __sd, __ns, $rest${xorU(s"__m$k", s"__r$k")} AS __x$k")
      nxt(s"__s, __l, __sd, __ns, $rest(${mulmod(s"__x$k", XP1)} + $XP4) % $U64 AS __m${k + 1}")
    }
    nxt(s"__s, __l, __ns, (CASE WHEN __ns = 1 THEN __m4 ELSE (__sd + $XP5) % $U64 END + __l) % $U64 AS __h0")
    nxt("__s, __l, __ns, __h0, (__l - 32*__ns) AS __rem, (32*__ns) AS __base")
    // up to three remaining 8-byte words: h ^= rotl(w*P2,31)*P1; h = rotl(h,27)*P1 + P4
    for (cidx <- 0 until 3) {
      nxt("__s, __l, __ns, __rem, __base, " +
        s"CASE WHEN __rem >= ${8 * (cidx + 1)} THEN ${leWord("__s", s"__base + ${8 * cidx} + 1", 8)} ELSE NULL END AS __k, __h$cidx AS __h")
      nxt(s"__s, __l, __ns, __rem, __base, __h, CASE WHEN __k IS NULL THEN NULL ELSE ${mulmod("__k", XP2)} END AS __k1")
      nxt(s"__s, __l, __ns, __rem, __base, __h, CASE WHEN __k1 IS NULL THEN NULL ELSE ${rotl("__k1", 31)} END AS __k2")
      nxt(s"__s, __l, __ns, __rem, __base, __h, CASE WHEN __k2 IS NULL THEN NULL ELSE ${mulmod("__k2", XP1)} END AS __k3")
      nxt(s"__s, __l, __ns, __rem, __base, __h, CASE WHEN __k3 IS NULL THEN __h ELSE ${xorU("__h", "__k3")} END AS __g, __k3")
      nxt(s"__s, __l, __ns, __rem, __base, CASE WHEN __k3 IS NULL THEN __g ELSE (${rotl("__g", 27)}) % $U64 END AS __g2, __k3, __g")
      nxt(s"__s, __l, __ns, __rem, __base, CASE WHEN __k3 IS NULL THEN __g ELSE (${mulmod("__g2", XP1)} + $XP4) % $U64 END AS __h${cidx + 1}")
    }
    // one 4-byte word: h ^= w4*P1; h = rotl(h,23)*P2 + P3
    nxt("__s, __l, __ns, __rem, (__base + 8*(__rem // 8)) AS __b4, (__rem % 8) AS __r8, __h3 AS __h")
    nxt(s"__s, __l, __r8, __b4, __h, CASE WHEN __r8 >= 4 THEN ${leWord("__s", "__b4 + 1", 4)} ELSE NULL END AS __q")
    nxt(s"__s, __l, __r8, __b4, __h, CASE WHEN __q IS NULL THEN NULL ELSE ${mulmod("__q", XP1)} END AS __q1")
    nxt(s"__s, __l, __r8, __b4, __h, __q1, CASE WHEN __q1 IS NULL THEN __h ELSE ${xorU("__h", "__q1")} END AS __g")
    nxt(s"__s, __l, __r8, __b4, __q1, __g, CASE WHEN __q1 IS NULL THEN __g ELSE (${rotl("__g", 23)}) % $U64 END AS __g2")
    nxt(s"__s, __l, __r8, __b4, __q1, CASE WHEN __q1 IS NULL THEN __g ELSE (${mulmod("__g2", XP2)} + $XP3) % $U64 END AS __hq")
    // up to three tail bytes: h ^= b*P5; h = rotl(h,11)*P1
    nxt("__s, __l, (__b4 + CASE WHEN __r8 >= 4 THEN 4 ELSE 0 END) AS __bt, " +
      "(CASE WHEN __r8 >= 4 THEN __r8 - 4 ELSE __r8 END) AS __nt, __hq AS __h0t")
    for (t <- 0 until 3) {
      nxt(s"__s, __l, __bt, __nt, __h${t}t AS __h, CASE WHEN __nt >= ${t + 1} " +
        s"THEN CAST(ascii(substr(__s, CAST(__bt + $t + 1 AS BIGINT), 1)) AS HUGEINT) ELSE NULL END AS __tb")
      nxt(s"__s, __l, __bt, __nt, __h, CASE WHEN __tb IS NULL THEN NULL ELSE ${mulmod("__tb", XP5)} END AS __tk")
      nxt(s"__s, __l, __bt, __nt, __h, __tk, CASE WHEN __tk IS NULL THEN __h ELSE ${xorU("__h", "__tk")} END AS __g")
      nxt(s"__s, __l, __bt, __nt, __tk, CASE WHEN __tk IS NULL THEN __g ELSE (${rotl("__g", 11)}) % $U64 END AS __g2, __g")
      nxt(s"__s, __l, __bt, __nt, CASE WHEN __tk IS NULL THEN __g ELSE ${mulmod("__g2", XP1)} END AS __h${t + 1}t")
    }
    nxt(s"__s, ${xorU("__h3t", "__h3t // 8589934592")} AS __f1")
    nxt(s"__s, ${mulmod("__f1", XP2)} AS __f2")
    nxt(s"__s, ${xorU("__f2", "__f2 // 536870912")} AS __f3")
    nxt(s"__s, ${mulmod("__f3", XP3)} AS __f4")
    nxt(s"__s, ${xorU("__f4", "__f4 // 4294967296")} AS xx64u")
    out += s"$p AS (SELECT ${c}__s, xx64u, CAST(CASE WHEN xx64u >= 9223372036854775808 " +
      s"THEN xx64u - $U64 ELSE xx64u END AS BIGINT) AS xx64 FROM $p$n)"
    out.mkString(",\n")
  }

  /** CTE-chain fragment for Spark's XXH64 of one INT argument with
    * u64 seed `seedExpr` (the CHAINED-argument step of
    * `xxhash64(str, i)`): h = seed + P5 + 4; h ^= (i & 0xffffffff)·P1;
    * h = rotl(h,23)·P2 + P3; avalanche. Final CTE `<p>` exposes
    * carry ++ (xx64u, xx64).
    */
  private def xxh64IntStages(p: String, from: String, carry: Seq[String],
                             intExpr: String, seedExpr: String): String = {
    val c = if (carry.isEmpty) "" else carry.mkString("", ", ", ", ")
    def cte(i: Int, sel: String, src: String) =
      s"$p$i AS MATERIALIZED (SELECT $c$sel FROM $src)"
    val s = Seq(
      cte(1, s"(((($intExpr) % 4294967296) + 4294967296) % 4294967296) AS __i, " +
        s"((($seedExpr) % $U64 + $U64) % $U64 + $XP5 + 4) % $U64 AS __h0", from),
      cte(2, s"__h0, ${mulmod("__i", XP1)} AS __k", s"${p}1"),
      cte(3, s"${xorU("__h0", "__k")} AS __g", s"${p}2"),
      cte(4, s"(${rotl("__g", 23)}) % $U64 AS __g2", s"${p}3"),
      cte(5, s"(${mulmod("__g2", XP2)} + $XP3) % $U64 AS __h", s"${p}4"),
      cte(6, s"${xorU("__h", "__h // 8589934592")} AS __f1", s"${p}5"),
      cte(7, s"${mulmod("__f1", XP2)} AS __f2", s"${p}6"),
      cte(8, s"${xorU("__f2", "__f2 // 536870912")} AS __f3", s"${p}7"),
      cte(9, s"${mulmod("__f3", XP3)} AS __f4", s"${p}8"),
      cte(10, s"${xorU("__f4", "__f4 // 4294967296")} AS xx64u", s"${p}9"),
      s"$p AS (SELECT ${c}xx64u, CAST(CASE WHEN xx64u >= 9223372036854775808 " +
        s"THEN xx64u - $U64 ELSE xx64u END AS BIGINT) AS xx64 FROM ${p}10)")
    s.mkString(",\n")
  }

  /** The PRODUCTION-hash Bloom decontamination oracle: replays the
    * xxhash64(shingle, probe-index) positions via the full string-XXH64
    * replica (hashed once per DISTINCT shingle, then the chained int
    * step per probe), then the same bitmap-membership verdict as the
    * md5 anchors. Shared by `x2_bloom_decontam_prod` (aggregated batch
    * op) and `x6_decontam_gate_prod` (stateless streaming form) — the
    * two hash-matching one oracle pins aggregated == stateless ==
    * oracle on the production hash path.
    */
  private lazy val bloomDecontamXxOracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
       |       FROM t WHERE len(toks) >= 5),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS sh FROM s0),
       |ush AS (SELECT DISTINCT sh AS s FROM sh),
       |${xxh64AsciiStringStages("hs", "ush", Seq.empty, "s", "42")},
       |pi AS (SELECT __s, xx64u AS hseed, r.i FROM hs, range(3) r(i)),
       |${xxh64IntStages("hp", "pi", Seq("__s", "i"), "i", "hseed")},
       |pos AS (SELECT __s AS psh, ((xx64 % 1048576) + 1048576) % 1048576 AS pos FROM hp),
       |bits AS (SELECT DISTINCT pos FROM pos JOIN sh ON pos.psh = sh.sh WHERE sh.doc_id % 20 = 0),
       |tp AS (SELECT sh.doc_id, sh.sh, pos.pos FROM pos JOIN sh ON pos.psh = sh.sh
       |       WHERE sh.doc_id % 20 <> 0),
       |pr AS (SELECT tp.doc_id, tp.sh,
       |    CAST(count(*) AS BIGINT) AS n_probe, CAST(count(b.pos) AS BIGINT) AS n_set
       |  FROM tp LEFT JOIN bits b ON tp.pos = b.pos GROUP BY tp.doc_id, tp.sh)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN n_set = n_probe THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  sum(CASE WHEN n_set = n_probe THEN 1 ELSE 0 END) > 0 AS flagged
       |FROM pr GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The fuzzy-dedup pipeline oracle (exact-Jaccard pairs → recursive
    * connected components → keep-longest), shared by
    * `x2_fuzzy_pipeline` (exact pair anchor),
    * `x2_fuzzy_pipeline_scalable` (LSH front end; banding covers the
    * exact pair set — measured recall 1.0, BASELINE.md), and
    * `x2_fuzzy_pipeline_indexed` (LSH front end reading the PERSISTED
    * MinHash index).
    */
  private val fuzzyPipelineOracleSql: String =
    """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
      |       FROM t WHERE len(toks) >= 5),
      |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
      |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
      |p0 AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
      |       FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |p AS (SELECT doc1, doc2 FROM p0
      |      JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
      |      WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)),
      |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
      |walk(id, label) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT e.a, walk.label FROM e JOIN walk ON e.b = walk.id),
      |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id),
      |d AS (SELECT d.doc_id, d.n_chars, coalesce(cl.cluster_id, d.doc_id) AS ckey
      |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
      |r AS (SELECT doc_id, ckey,
      |    row_number() OVER w AS rn,
      |    count(*) OVER (PARTITION BY ckey) AS group_n,
      |    first_value(doc_id) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canonical_id
      |  FROM d WINDOW w AS (PARTITION BY ckey ORDER BY n_chars DESC, doc_id))
      |SELECT doc_id, ckey AS cluster_key, canonical_id, CAST(group_n AS BIGINT) AS group_n,
      |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
      |FROM r ORDER BY doc_id""".stripMargin

  /** FULL-RECOMPUTE transitive-clusters oracle (exact-Jaccard pairs →
    * recursive components → min-label), shared by `x2_dup_clusters`
    * (full recompute in band), `x2_dup_clusters_incremental` (in-band
    * old-corpus recompute + incremental fold-in) and
    * `x2_dup_clusters_incremental_prod` (STORED oldLabels + persisted
    * gate — the production shape). All three must equal the from-
    * scratch clustering over the whole corpus; the oracle never sees
    * how the engine split old/delta, which is exactly the check.
    */
  private val dupClustersFullOracleSql: String =
    """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
      |       FROM t WHERE len(toks) >= 5),
      |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
      |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
      |p0 AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
      |       FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |p AS (SELECT doc1, doc2 FROM p0
      |      JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
      |      WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)),
      |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
      |walk(id, label) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT e.a, walk.label FROM e JOIN walk ON e.b = walk.id)
      |SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id
      |ORDER BY doc_id""".stripMargin

  /** Near-dup-AWARE split oracle (pairs → components → cluster-key md5
    * hash → split boundaries), shared by `x2_dedup_aware_split` (exact
    * pair anchor) and `x2_dedup_aware_split_scalable` (pairs off the
    * PERSISTED LSH index; banding covers the exact pair set — measured
    * recall 1.0, BASELINE.md — so cluster keys and split verdicts are
    * identical).
    */
  private val dedupAwareSplitOracleSql: String =
    """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
      |       FROM t WHERE len(toks) >= 5),
      |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
      |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
      |p0 AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
      |       FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |p AS (SELECT doc1, doc2 FROM p0
      |      JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
      |      WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)),
      |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
      |walk(id, label) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT e.a, walk.label FROM e JOIN walk ON e.b = walk.id),
      |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id),
      |d AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_key
      |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
      |h AS (SELECT doc_id, cluster_key,
      |        CAST(('0x' || substr(md5(CAST(cluster_key AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS hash_val
      |      FROM d)
      |SELECT doc_id, cluster_key, hash_val,
      |  CASE WHEN hash_val < 800000 THEN 'train'
      |       WHEN hash_val < 900000 THEN 'val' ELSE 'test' END AS split
      |FROM h ORDER BY doc_id""".stripMargin

  /** The md5-parity RHP replay oracle, shared by `x3_ann_rhp` (inline
    * corpus hashing) and `x3_ann_rhp_indexed` (persisted bucket +
    * quantized tables): it recomputes the identical ±1 sign matrix
    * from the RAW embeddings, so it is independent of where the
    * engine's bucket table came from — the two queries hash-matching
    * the same oracle is itself the recompute ≡ indexed equality check.
    */
  private val rhpMd5OracleSql: String =
    """WITH v AS (SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |       FROM embeddings),
      |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
      |e0 AS (SELECT vec_id, q, unnest(range(0, len(q))) AS j FROM v),
      |x AS (SELECT vec_id, j, q[CAST(j AS INT) + 1] AS qv FROM e0),
      |d AS (SELECT unnest(range(0, 64)) AS k),
      |sgn AS (SELECT x.vec_id, x.j, d.k, x.qv,
      |    CASE WHEN CAST(('0x' || substr(md5(x.j || ':' || d.k), 1, 15)) AS BIGINT) % 2 = 0
      |         THEN 1 ELSE -1 END AS s
      |  FROM x, d),
      |proj AS (SELECT vec_id, k, CAST(sum(qv * s) AS BIGINT) AS rp
      |         FROM sgn GROUP BY vec_id, k),
      |bkt AS (SELECT vec_id, k // 8 AS tbl,
      |          CAST(sum(CASE WHEN rp >= 0 THEN (CAST(1 AS BIGINT) << CAST(k % 8 AS INT)) ELSE 0 END) AS BIGINT) AS bucket
      |        FROM proj GROUP BY vec_id, k // 8),
      |masks AS (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m),
      |qp AS (SELECT b.vec_id AS query_id, b.tbl, xor(b.bucket, CAST(m.m AS BIGINT)) AS pb
      |       FROM bkt b, masks m WHERE b.vec_id % 10 = 0),
      |cand AS (SELECT DISTINCT qp.query_id, cb.vec_id AS neighbor_id
      |         FROM qp JOIN bkt cb ON cb.tbl = qp.tbl AND cb.bucket = qp.pb
      |         WHERE qp.query_id <> cb.vec_id),
      |sc AS (SELECT cand.query_id, cand.neighbor_id,
      |         CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
      |         a.n2 AS na, b.n2 AS nb
      |       FROM cand JOIN n a ON a.vec_id = cand.query_id
      |                 JOIN n b ON b.vec_id = cand.neighbor_id),
      |r AS (SELECT query_id, neighbor_id,
      |        CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine FROM sc),
      |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
      |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** One bpeTrain merge round replayed in DuckDB SQL: pair counts from
    * `w{r-1}`, single-row argmax `b{r}`, and the rewrite of every word.
    *
    * SQL has no sequential per-word scan, so the left-to-right
    * non-overlapping merge is done by position arithmetic instead: a
    * candidate position is one where (sym[i], sym[i+1]) = (x, y). Two
    * candidates can only be adjacent when x = y (runs like "a a a a"),
    * so taking the odd-ranked candidates inside each maximal run of
    * consecutive candidates is EXACTLY the left-to-right greedy, and
    * windows over the word table express it. The replay is an
    * independent formulation of the same rewrite the trainer does with
    * a scan.
    */
  private def bpeTrainRoundSql(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p${r}a AS (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM $prev),
       |p$r AS (SELECT syms[i] AS a, syms[i + 1] AS b, sum(freq) AS cnt FROM p${r}a GROUP BY 1, 2),
       |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |s${r}a AS (SELECT w, freq, syms, unnest(range(1, len(syms) + 1)) AS i FROM $prev),
       |s$r AS (SELECT w, freq, i, syms[i] AS s, b.a AS x, b.b AS y FROM s${r}a, b$r b),
       |c$r AS (SELECT *, coalesce(s = x AND lead(s) OVER (PARTITION BY w ORDER BY i) = y, false) AS cand FROM s$r),
       |i$r AS (SELECT *, CASE WHEN cand THEN i - sum(CASE WHEN cand THEN 1 ELSE 0 END) OVER (PARTITION BY w ORDER BY i) END AS isl FROM c$r),
       |m$r AS (SELECT *, cand AND row_number() OVER (PARTITION BY w, isl ORDER BY i) % 2 = 1 AS ms FROM i$r),
       |d$r AS (SELECT *, coalesce(lag(ms) OVER (PARTITION BY w ORDER BY i), false) AS dropped FROM m$r),
       |w$r AS (SELECT w, freq, list(CASE WHEN ms THEN x || y ELSE s END ORDER BY i) AS syms
       |  FROM d$r WHERE NOT dropped GROUP BY w, freq)""".stripMargin
  }

  // sample_id/perm are cast("long") explicitly: the schema contract
  // (Tables families) admits INT32 for the int family, and Spark's
  // xxhash64 hashes int32 through a 4-byte path that differs from the
  // 8-byte path the DuckDB long-XXH64 replica models — a physical-type
  // drift must widen BEFORE hashing, not silently change memberships.
  private def featureTable(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").select(
      col("l_returnflag").as("cls"),
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("sample_id"),
      (((col("l_orderkey") % 999983L) * 2654435761L + col("l_linenumber") * 40503L) % 1000000007L)
        .cast("long").as("perm"),
      col("l_quantity"), col("l_extendedprice"))

  private val fSql =
    """SELECT l_returnflag AS cls,
      |       l_orderkey * 10 + l_linenumber AS sample_id,
      |       ((l_orderkey % 999983) * 2654435761 + l_linenumber * 40503) % 1000000007 AS perm,
      |       l_quantity, l_extendedprice
      |FROM lineitem""".stripMargin

  // The synthetic lineitem has duplicate (l_orderkey, l_linenumber)
  // pairs, so the rank ordering must be total over every projected
  // column or the two engines could swap tied rows.
  //
  // Shared rank uses the SCALABLE two-phase variant: lineitem has only
  // 3 classes, so the plain per-class window would run on 3 tasks
  // regardless of cluster size (verified identical output in
  // SplitOpsSpec and by w1 vs w1_split_scalable sharing an oracle).
  // w1_train_test below exercises the plain single-window op directly.
  private def ranked(s: SparkSession, dir: String): DataFrame =
    SplitOps.rankByPermutationScalable(featureTable(s, dir), Seq("cls"),
      Seq(col("perm"), col("sample_id"), col("l_quantity"), col("l_extendedprice")))

  private val rSql =
    s"""WITH f AS ($fSql),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY cls ORDER BY perm, sample_id, l_quantity, l_extendedprice) AS rn,
       |        count(*) OVER (PARTITION BY cls) AS n
       |      FROM f)""".stripMargin

  /** Round-half-to-even in portable SQL (Python builtin `round`,
    * reference preprocess.py:165). Must match SplitOps.roundHalfEven.
    */
  private def rheSql(x: String): String =
    s"(CASE WHEN $x - floor($x) = 0.5 THEN CAST(floor($x) AS BIGINT) + (CAST(floor($x) AS BIGINT) % 2)" +
      s" ELSE CAST(floor($x + 0.5) AS BIGINT) END)"

  /** Fractional train size with the reference's clamp (preprocess.py:164-167). */
  private def tsFracSql(n: String, f: String, cv: Int): String = {
    val s = rheSql(s"CAST($n AS DOUBLE) * $f")
    s"(CASE WHEN $s < $cv THEN LEAST($n, $cv) ELSE $s END)"
  }

  /** Integer train size with the reference's clamp (preprocess.py:168-171). */
  private def tsCountSql(n: String, k: String, cv: Int): String =
    s"(CASE WHEN LEAST($k, $n) < $cv THEN LEAST($cv, $n) ELSE LEAST($k, $n) END)"

  // ---------------------------------------------------------------
  // CDC merge family (M): a deterministic change feed derived from
  // orders — each order is a change event against the customer
  // dimension. version = o_orderkey (unique, monotone stand-in for a
  // CDC log offset); op cycles delete/insert/update by modulus; insert
  // keys are shifted past the base key range so they genuinely add
  // entities. The oracle derives the SAME feed in SQL.
  // ---------------------------------------------------------------

  private def ordersAsCustomerChanges(orders: DataFrame): DataFrame =
    orders.select(
      (col("o_custkey") +
        when(col("o_orderkey") % 7 === 3, lit(500000)).otherwise(lit(0)))
        .cast("int").as("c_custkey"),
      col("o_orderkey").cast("long").as("version"),
      when(col("o_orderkey") % 20 === 0, lit("delete"))
        .when(col("o_orderkey") % 7 === 3, lit("insert"))
        .otherwise(lit("update")).as("op"),
      concat(lit("cust_"), col("o_custkey").cast("string")).as("c_name"),
      (col("o_orderkey") % 25).cast("int").as("c_nationkey"),
      round(col("o_totalprice").cast("double"), 2).as("c_acctbal"),
      col("o_orderpriority").as("c_mktsegment"))

  /** The shared feed-derivation SQL (mirrors [[ordersAsCustomerChanges]]). */
  private val changesFeedSql: String =
    """SELECT CAST(o_custkey + CASE WHEN o_orderkey % 7 = 3 THEN 500000 ELSE 0 END AS INTEGER) AS c_custkey,
      |       CAST(o_orderkey AS BIGINT) AS version,
      |       CASE WHEN o_orderkey % 20 = 0 THEN 'delete'
      |            WHEN o_orderkey % 7 = 3 THEN 'insert'
      |            ELSE 'update' END AS op,
      |       'cust_' || CAST(o_custkey AS VARCHAR) AS c_name,
      |       CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
      |       round(CAST(o_totalprice AS DOUBLE), 2) AS c_acctbal,
      |       o_orderpriority AS c_mktsegment
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------
  // Query registry
  // ---------------------------------------------------------------

  /** Insertion-ordered so Verify/Bench output is stable. */
  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- headline aggregation (exercises scan + hash agg; T5-adjacent) ----
    ("q1_agg",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
            round(avg(col("l_quantity")), 6).as("avg_qty"),
            count(lit(1)).as("cnt"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             |  round(avg(l_quantity), 6) AS avg_qty,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- pushdown showcase: date+band range filters reach the scan (TPC-H Q6 shape) ----
    ("q6_filter_pushdown",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1994-01-01") && col("l_shipdate") < lit("1995-01-01")
            && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
            count(lit(1)).as("cnt"))
      },
      Some("""SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem
             |WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // ---- date functions: monthly revenue rollup ----
    ("q_monthly_rollup",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
          .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n_orders"))
          .orderBy(col("yr"), col("mo"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
             |  round(sum(o_totalprice), 2) AS revenue, CAST(count(*) AS BIGINT) AS n_orders
             |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin)),

    // ---- JSON functions: extract typed values from the props column ----
    ("x6_json_props",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- analytic window menu: lag/lead/rank/dense_rank/ntile/cume_dist ----
    ("q_analytics",
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.load(s, dir, "orders")
          .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
            col("o_totalprice"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy(col("prio"), col("o_orderkey"))
      },
      Some("""SELECT o_orderpriority AS prio, o_orderkey, o_totalprice,
             |  lag(o_totalprice, 1) OVER w AS prev_price,
             |  lead(o_totalprice, 1) OVER w AS next_price,
             |  CAST(rank() OVER w AS BIGINT) AS rnk,
             |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  round(cume_dist() OVER w, 6) AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
             |ORDER BY prio, o_orderkey""".stripMargin)),

    // ---- analytic menu, scalable twin: o_orderpriority has 5 values,
    // so the direct window above is ONE task per priority at any data
    // size. This plan range-partitions each priority across 32 tasks
    // and fixes ranks/edges with a broadcast (WindowOps) — same oracle.
    ("q_analytics_scalable",
      (s: SparkSession, dir: String) => {
        val base = Tables.load(s, dir, "orders")
          .select(col("o_orderpriority").as("prio"), col("o_orderkey"), col("o_totalprice"))
        WindowOps.orderedAnalyticsScalable(base, Seq("prio"),
            Seq(col("o_totalprice"), col("o_orderkey")), "o_totalprice",
            nTiles = 4)
          .select(col("prio"), col("o_orderkey"), col("o_totalprice"),
            col("prev").as("prev_price"), col("next").as("next_price"),
            // ORDER BY (o_totalprice, o_orderkey) is a total order, so
            // rank and dense_rank equal the global row number
            col("rn").as("rnk"), col("rn").as("drnk"),
            col("tile").as("quartile"), round(col("cd"), 6).as("cd"))
          .orderBy(col("prio"), col("o_orderkey"))
      },
      Some("""SELECT o_orderpriority AS prio, o_orderkey, o_totalprice,
             |  lag(o_totalprice, 1) OVER w AS prev_price,
             |  lead(o_totalprice, 1) OVER w AS next_price,
             |  CAST(rank() OVER w AS BIGINT) AS rnk,
             |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  round(cume_dist() OVER w, 6) AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
             |ORDER BY prio, o_orderkey""".stripMargin)),

    // ---- ROLLUP with grouping id (multi-level aggregation) ----
    ("q_rollup",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"),
            grouping_id().as("gid"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // ---- CUBE: every grouping-set combination in one pass (the full
    // grouping-sets surface; Spark expands to an Expand + single hash
    // aggregate — one shuffle regardless of set count) ----
    ("q_cube",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"),
            round(avg(col("l_discount")), 6).as("avg_disc"),
            count(lit(1)).as("cnt"),
            grouping_id().as("gid"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |  round(avg(l_discount), 6) AS avg_disc,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // ---- RANGE-frame window: 7-day moving revenue per priority
    // segment — a VALUE range over epoch days (peers = all rows within
    // 6 days), not a row count. Summed in exact integer cents so the
    // frame sum is order-free on both engines. ----
    ("q_window_range",
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("prio")).orderBy(col("day")).rangeBetween(-6, 0)
        Tables.load(s, dir, "orders")
          .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
            datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))).cast("long").as("day"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .withColumn("rev7_cents", sum(col("cents")).over(w))
          .withColumn("n7", count(lit(1)).over(w).cast("long"))
          .select("prio", "o_orderkey", "day", "rev7_cents", "n7")
          .orderBy(col("prio"), col("day"), col("o_orderkey"))
      },
      Some("""WITH o AS (SELECT o_orderpriority AS prio, o_orderkey,
             |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT prio, o_orderkey, day,
             |  CAST(sum(cents) OVER w AS BIGINT) AS rev7_cents,
             |  CAST(count(*) OVER w AS BIGINT) AS n7
             |FROM o
             |WINDOW w AS (PARTITION BY prio ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY prio, day, o_orderkey""".stripMargin)),

    // ---- PIVOT: wide per-class aggregate matrix ----
    ("q_pivot",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(sum(col("l_quantity")))
          .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
             |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- statistical aggregates: stddev / variance / correlation / covariance ----
    ("q_stats",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
            round(var_samp(col("l_quantity")), 6).as("var_qty"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(stddev_samp(l_quantity), 6) AS sd_qty,
             |  round(var_samp(l_quantity), 6) AS var_qty,
             |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
             |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- array function menu over embeddings ----
    ("q_array_funcs",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("CAST(round(CAST(array_max(embedding) AS DOUBLE), 6) AS DOUBLE)").as("emb_max"),
            expr("CAST(round(CAST(array_min(embedding) AS DOUBLE), 6) AS DOUBLE)").as("emb_min"),
            expr("CAST(round(CAST(element_at(array_sort(embedding), 1) AS DOUBLE), 6) AS DOUBLE)").as("sorted_first"),
            expr("CAST(size(array_distinct(embedding)) AS BIGINT)").as("n_distinct"),
            expr("CAST(round(aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)), 4) AS DOUBLE)").as("emb_sum"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS emb_max,
             |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS emb_min,
             |  round(CAST(list_sort(embedding)[1] AS DOUBLE), 6) AS sorted_first,
             |  CAST(len(list_distinct(embedding)) AS BIGINT) AS n_distinct,
             |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))), (a, x) -> a + x), 4) AS emb_sum
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- exact percentiles (median / p90 per class) ----
    ("q_percentiles",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- approximate percentiles (the 100 TB twin of q_percentiles).
    // Exact percentile buffers every group value in one reducer;
    // approx_percentile keeps a Greenwald-Khanna sketch of
    // O(1/ε · log(εN)) entries with map-side partial merge, so reducer
    // memory is bounded at any scale — the production path runs the
    // sketch ALONE. The GK value itself is engine-specific (DuckDB's
    // approx_quantile is a t-digest), so this oracle row certifies the
    // sketch instead of matching it (VERDICT r8 item 3): alongside the
    // exact percentiles (value-checked by DuckDB) it emits integer
    // verdicts that the sketch value's rank lies within the GK
    // guarantee — the exact percentile at q ± slack brackets every
    // value whose rank error is within ±1/accuracy (slack is 10× that
    // bound, still ~100× tighter than the group spread). DuckDB
    // replays the verdicts as literal 1s: if the sketch ever escapes
    // its bound, the Spark side flips to 0 and the hash gate goes red.
    // The exact side is FUSED: one percentile(col, array(lo, q, hi))
    // per column shares a single map buffer for all three ranks —
    // two exact aggregates instead of six (VERDICT r11 item 6). ----
    ("q_percentiles_approx",
      (s: SparkSession, dir: String) => {
        val slack = 0.001 // 10 × the 1/accuracy GK rank-error bound
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("approx_percentile(l_quantity, 0.5, 10000)").as("aq"),
            expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("ap"),
            expr(s"percentile(l_quantity, array(${0.5 - slack}, 0.5, ${0.5 + slack}))").as("qp"),
            expr(s"percentile(l_extendedprice, array(${0.9 - slack}, 0.9, ${0.9 + slack}))").as("pp"))
          .select(col("l_returnflag"),
            round(col("qp")(1), 6).as("median_qty"),
            round(col("pp")(1), 4).as("p90_price"),
            (col("aq") >= col("qp")(0) && col("aq") <= col("qp")(2))
              .cast("int").as("median_in_bounds"),
            (col("ap") >= col("pp")(0) && col("ap") <= col("pp")(2))
              .cast("int").as("p90_in_bounds"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             |  1 AS median_in_bounds, 1 AS p90_in_bounds
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- q_percentiles at 100 TB: rank-select exact quantiles.
    // percentile() merges a per-group value→count map through the
    // shuffle — on nearly-unique doubles (prices) that map IS the
    // group, i.e. unbounded reducer state; the sketch twin above
    // bounds memory but changes the value. QuantileOps keeps the
    // EXACT value with O(1) reducer state: distributed range sort +
    // two-phase rank, then a broadcast join against the tiny
    // (group × quantile) rank table keeps only the two neighbor order
    // statistics per quantile and interpolates (quantile_cont
    // semantics, same oracle row as q_percentiles). Locally the map
    // merge wins (~1.7 s vs ~2.5 s — sort fixed costs dominate at
    // 600k rows); at cluster scale only the rank-select shape
    // survives, which is why both are in the suite. ----
    ("q_percentiles_scalable",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem")
        val mq = graft.dfw.QuantileOps.exactQuantileCols(
          li, Seq("l_returnflag"), "l_quantity", Seq(0.5 -> "mq"))
        val pp = graft.dfw.QuantileOps.exactQuantileCols(
          li, Seq("l_returnflag"), "l_extendedprice", Seq(0.9 -> "pp"))
        mq.join(pp, "l_returnflag")
          .select(col("l_returnflag"),
            round(col("mq"), 6).as("median_qty"),
            round(col("pp"), 4).as("p90_price"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- W1/W2: per-class train/test split by stored permutation order ----
    ("w1_train_test",
      (s: SparkSession, dir: String) => {
        val plainRanked = SplitOps.rankByPermutation(featureTable(s, dir), Seq("cls"),
          Seq(col("perm"), col("sample_id"), col("l_quantity"), col("l_extendedprice")))
        SplitOps.trainTestSplit(plainRanked, SplitOps.Frac(0.5), CV)
          .select(col("cls"), col("sample_id"), col("role"))
          .orderBy(col("cls"), col("sample_id"), col("role"))
      },
      Some(s"""$rSql
              |SELECT cls, sample_id,
              |  CASE WHEN rn <= ${tsFracSql("n", "0.5", CV)} THEN 'train' ELSE 'test' END AS role
              |FROM r ORDER BY cls, sample_id, role""".stripMargin)),

    // ---- W1 at scale: two-phase distributed rank (same oracle as w1) ----
    ("w1_split_scalable",
      (s: SparkSession, dir: String) => {
        val r = SplitOps.rankByPermutationScalable(featureTable(s, dir), Seq("cls"),
          Seq(col("perm"), col("sample_id"), col("l_quantity"), col("l_extendedprice")))
        SplitOps.trainTestSplit(r, SplitOps.Frac(0.5), CV)
          .select(col("cls"), col("sample_id"), col("role"))
          .orderBy(col("cls"), col("sample_id"), col("role"))
      },
      Some(s"""$rSql
              |SELECT cls, sample_id,
              |  CASE WHEN rn <= ${tsFracSql("n", "0.5", CV)} THEN 'train' ELSE 'test' END AS role
              |FROM r ORDER BY cls, sample_id, role""".stripMargin)),

    // ---- W2: train-size clamp semantics on small classes ----
    ("w2_train_clamp",
      (s: SparkSession, dir: String) => {
        val byCls = Tables.load(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("cls")).agg(count(lit(1)).as("n"))
        byCls
          .withColumn("ts_all", SplitOps.trainSizeCol(col("n"), SplitOps.All, CV))
          .withColumn("ts_half", SplitOps.trainSizeCol(col("n"), SplitOps.Frac(0.5), CV))
          .withColumn("ts_fifth", SplitOps.trainSizeCol(col("n"), SplitOps.Frac(0.2), CV))
          .withColumn("ts_c3", SplitOps.trainSizeCol(col("n"), SplitOps.Count(3), CV))
          .withColumn("ts_cbig", SplitOps.trainSizeCol(col("n"), SplitOps.Count(1000000), CV))
          .orderBy(col("cls"))
      },
      Some(s"""WITH c AS (SELECT s_nationkey AS cls, count(*) AS n FROM supplier GROUP BY s_nationkey)
              |SELECT cls, n,
              |  n AS ts_all,
              |  ${tsFracSql("n", "0.5", CV)} AS ts_half,
              |  ${tsFracSql("n", "0.2", CV)} AS ts_fifth,
              |  ${tsCountSql("n", "3", CV)} AS ts_c3,
              |  ${tsCountSql("n", "1000000", CV)} AS ts_cbig
              |FROM c ORDER BY cls""".stripMargin)),

    // ---- W3: linspace K-fold assignment (train = all) ----
    ("w3_fold_linspace",
      (s: SparkSession, dir: String) => {
        SplitOps.linspaceFolds(ranked(s, dir).withColumn("train_n", col("n")), CV)
          .select(col("cls"), col("sample_id"), col("pos"), col("fold"))
          .orderBy(col("cls"), col("pos"))
      },
      Some(s"""$rSql
              |SELECT cls, sample_id, rn - 1 AS pos, CAST(g.fold AS INT) AS fold
              |FROM r, generate_series(0, ${CV - 1}) g(fold)
              |WHERE rn - 1 >= floor(g.fold * (CAST(n AS DOUBLE) / $CV))
              |  AND rn - 1 < CASE WHEN g.fold = ${CV - 1} THEN CAST(n AS DOUBLE)
              |                    ELSE floor((g.fold + 1) * (CAST(n AS DOUBLE) / $CV)) END
              |ORDER BY cls, pos""".stripMargin)),

    // ---- W4: rotation CV when train_size < cv ----
    ("w4_fold_rotation",
      (s: SparkSession, dir: String) => {
        val cust = Tables.load(s, dir, "customer").select(
          col("c_mktsegment").as("cls"),
          col("c_custkey").as("sample_id"),
          ((col("c_custkey") % 999983L) * 2654435761L % 1000000007L).as("perm"))
        val top3 = SplitOps.rankByPermutation(cust, Seq("cls"), Seq(col("perm"), col("sample_id")))
          .filter(col("rn") <= 3)
          .withColumn("train_n", lit(3L))
        SplitOps.rotationFolds(top3, CV)
          .select(col("cls"), col("sample_id"), col("pos"), col("fold"), col("cv_role"))
          .orderBy(col("cls"), col("fold"), col("pos"))
      },
      Some(s"""WITH c AS (SELECT c_mktsegment AS cls, c_custkey AS sample_id,
              |              ((c_custkey % 999983) * 2654435761) % 1000000007 AS perm FROM customer),
              |r AS (SELECT *, row_number() OVER (PARTITION BY cls ORDER BY perm, sample_id) AS rn FROM c),
              |t AS (SELECT cls, sample_id, rn - 1 AS pos FROM r WHERE rn <= 3)
              |SELECT cls, sample_id, pos, CAST(g.fold AS INT) AS fold,
              |  CASE WHEN pos = g.fold % 3 THEN 'test' ELSE 'train' END AS cv_role
              |FROM t, generate_series(0, ${CV - 1}) g(fold)
              |ORDER BY cls, fold, pos""".stripMargin)),

    // ---- W5: cross-class offset accumulation (running-sum window) ----
    ("w5_offset",
      (s: SparkSession, dir: String) => {
        val perClass = SplitOps.trainTestSplit(ranked(s, dir), SplitOps.Frac(0.5), CV)
          .groupBy(col("cls")).agg(max(col("train_size")).as("train_size"))
        SplitOps.classOffsets(perClass, "cls", "train_size")
          .select(col("cls"), col("train_size"), col("offset"))
          .orderBy(col("cls"))
      },
      Some(s"""$rSql,
              |p AS (SELECT cls, max(${tsFracSql("n", "0.5", CV)}) AS train_size FROM r GROUP BY cls)
              |SELECT cls, train_size,
              |  CAST(COALESCE(sum(train_size) OVER (ORDER BY cls ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
              |FROM p ORDER BY cls""".stripMargin)),

    // ---- T2/J4: leak-free train-mean centering ----
    ("t2_center",
      (s: SparkSession, dir: String) => {
        val split = SplitOps.trainTestSplit(ranked(s, dir), SplitOps.Frac(0.5), CV)
        TransformOps.centerByTrainMean(split, Seq("cls"), "role", Seq("l_quantity", "l_extendedprice"))
          .select(col("cls"), col("sample_id"), col("role"),
            col("l_quantity_centered").as("qty_c"),
            round(col("l_extendedprice_centered"), 4).as("price_c"))
          .orderBy(col("cls"), col("sample_id"), col("role"), col("qty_c"), col("price_c"))
      },
      Some(s"""$rSql,
              |s AS (SELECT *, CASE WHEN rn <= ${tsFracSql("n", "0.5", CV)} THEN 'train' ELSE 'test' END AS role FROM r),
              |m AS (SELECT cls, avg(l_quantity) AS m_qty, avg(l_extendedprice) AS m_price
              |      FROM s WHERE role = 'train' GROUP BY cls)
              |SELECT s.cls, s.sample_id, s.role,
              |  s.l_quantity - m.m_qty AS qty_c,
              |  round(s.l_extendedprice - m.m_price, 4) AS price_c
              |FROM s JOIN m ON s.cls = m.cls
              |ORDER BY s.cls, s.sample_id, s.role, qty_c, price_c""".stripMargin)),

    // ---- W6+T3: CV materialization + per-fold leak-free centering ----
    ("t3_center_fold",
      (s: SparkSession, dir: String) => {
        val folded = SplitOps.linspaceFolds(ranked(s, dir).withColumn("train_n", col("n")), CV)
        val cv = SplitOps.cvAssign(folded, CV)
        TransformOps.centerByFoldTrainMean(cv, Seq("cls"), "cv_fold", "cv_role", Seq("l_quantity"))
          .select(col("cls"), col("cv_fold"), col("sample_id"), col("cv_role"),
            col("l_quantity_centered").as("qty_c"))
          .orderBy(col("cls"), col("cv_fold"), col("sample_id"), col("cv_role"), col("qty_c"))
      },
      Some(s"""$rSql,
              |fd AS (SELECT r.*, CAST(g.fold AS INT) AS fold
              |      FROM r, generate_series(0, ${CV - 1}) g(fold)
              |      WHERE rn - 1 >= floor(g.fold * (CAST(n AS DOUBLE) / $CV))
              |        AND rn - 1 < CASE WHEN g.fold = ${CV - 1} THEN CAST(n AS DOUBLE)
              |                          ELSE floor((g.fold + 1) * (CAST(n AS DOUBLE) / $CV)) END),
              |cvx AS (SELECT fd.*, CAST(g.cv_fold AS INT) AS cv_fold,
              |          CASE WHEN fd.fold = g.cv_fold THEN 'test' ELSE 'train' END AS cv_role
              |        FROM fd, generate_series(0, ${CV - 1}) g(cv_fold)),
              |m AS (SELECT cls, cv_fold, avg(l_quantity) AS m_qty
              |      FROM cvx WHERE cv_role = 'train' GROUP BY cls, cv_fold)
              |SELECT c.cls, c.cv_fold, c.sample_id, c.cv_role, c.l_quantity - m.m_qty AS qty_c
              |FROM cvx c JOIN m ON c.cls = m.cls AND c.cv_fold = m.cv_fold
              |ORDER BY c.cls, c.cv_fold, c.sample_id, c.cv_role, qty_c""".stripMargin)),

    // ---- flagship: the reference's full generator pipeline in one plan ----
    // gather-order rank -> bias extend -> train/test split -> label ->
    // train-mean centering of the feature ARRAY (leak-free), SURVEY.md §7.2.
    ("gen_pipeline",
      (s: SparkSession, dir: String) => {
        // Reference semantics (preprocess.py:76-79): the center is the
        // mean of the CONCATENATED train matrix across all classes (one
        // mean per descriptor), not per class — cls plays the class role
        // here and the single implicit descriptor is materialized.
        val split = SplitOps.trainTestSplit(ranked(s, dir), SplitOps.Frac(0.5), CV)
          .withColumn("descriptor", lit("default"))
          .withColumn("features",
            TransformOps.extendBias(array(col("l_quantity"), col("l_extendedprice"))))
        TransformOps.centerFeatureArray(split, Seq("descriptor"), "role", "features")
          .select(col("cls"), col("sample_id"), col("role"),
            round(element_at(col("features_centered"), 1), 6).as("f1_c"),
            round(element_at(col("features_centered"), 2), 4).as("f2_c"),
            element_at(col("features_centered"), 3).as("f3_c"))
          .orderBy(col("cls"), col("sample_id"), col("role"), col("f1_c"), col("f2_c"))
      },
      Some(s"""$rSql,
              |s AS (SELECT *, CASE WHEN rn <= ${tsFracSql("n", "0.5", CV)} THEN 'train' ELSE 'test' END AS role FROM r),
              |m AS (SELECT avg(l_quantity) AS m1, avg(l_extendedprice) AS m2
              |      FROM s WHERE role = 'train')
              |SELECT s.cls, s.sample_id, s.role,
              |  round(s.l_quantity - m.m1, 6) AS f1_c,
              |  round(s.l_extendedprice - m.m2, 4) AS f2_c,
              |  CAST(0.0 AS DOUBLE) AS f3_c
              |FROM s CROSS JOIN m
              |ORDER BY s.cls, s.sample_id, s.role, f1_c, f2_c""".stripMargin)),

    // ---- flagship, multi-descriptor (VERDICT r6 item 8): the SAME
    // generator pipeline with descriptor as a REAL key — the reference
    // model is multi-descriptor (`for descriptor in self._data[db]`,
    // preprocess.py:48,110) but every query above materializes only
    // the 'default' one. Two descriptor views of the feature table — a
    // full feature pair and a projected subset (SURVEY §1.1's "feature
    // view/modality") — union into ONE long frame and run
    // gather-order rank → split → per-descriptor train-mean centering
    // end-to-end, keyed (descriptor, cls) throughout. One plan; the
    // rank shuffle and the center broadcast both carry descriptor, so
    // N descriptors cost one wider shuffle, not N plans. ----
    ("gen_pipeline_multi",
      (s: SparkSession, dir: String) => {
        val base = featureTable(s, dir)
        val descrs = Seq(
          ("default", array(col("l_quantity"), col("l_extendedprice"))),
          ("qty", array(col("l_quantity"))))
        val both = TransformOps.unionAll(descrs.map { case (d, feats) =>
          base.withColumn("descriptor", lit(d)).withColumn("features", feats)
            .select("descriptor", "cls", "sample_id", "perm", "features")
        })
        // total order per (descriptor, cls): the projected descriptor
        // has no second feature — try_element_at (NULL out of bounds,
        // like SQL, where ANSI element_at throws) + coalesce keeps the
        // key total
        val rankedD = SplitOps.rankByPermutationScalable(both, Seq("descriptor", "cls"),
          Seq(col("perm"), col("sample_id"), element_at(col("features"), 1),
            coalesce(try_element_at(col("features"), lit(2)), lit(0.0))))
        val split = SplitOps.trainTestSplit(rankedD, SplitOps.Frac(0.5), CV)
        // reference semantics (preprocess.py:76-79): one mean per
        // DESCRIPTOR over the concatenated train matrix of all classes
        TransformOps.centerFeatureArray(split, Seq("descriptor"), "role", "features")
          .select(col("descriptor"), col("cls"), col("sample_id"), col("role"),
            round(element_at(col("features_centered"), 1), 6).as("f1_c"),
            round(try_element_at(col("features_centered"), lit(2)), 4).as("f2_c"))
          .orderBy(col("descriptor"), col("cls"), col("sample_id"), col("role"),
            col("f1_c"), col("f2_c"))
      },
      Some(s"""WITH f AS ($fSql),
              |d AS (SELECT 'default' AS descriptor, cls, sample_id, perm,
              |        [l_quantity, l_extendedprice] AS features FROM f
              |      UNION ALL
              |      SELECT 'qty', cls, sample_id, perm, [l_quantity] FROM f),
              |r AS (SELECT *,
              |        row_number() OVER (PARTITION BY descriptor, cls
              |          ORDER BY perm, sample_id, features[1], coalesce(features[2], 0)) AS rn,
              |        count(*) OVER (PARTITION BY descriptor, cls) AS n
              |      FROM d),
              |s AS (SELECT *, CASE WHEN rn <= ${tsFracSql("n", "0.5", CV)} THEN 'train' ELSE 'test' END AS role FROM r),
              |m AS (SELECT descriptor, avg(features[1]) AS m1, avg(features[2]) AS m2
              |      FROM s WHERE role = 'train' GROUP BY descriptor)
              |SELECT s.descriptor, s.cls, s.sample_id, s.role,
              |  round(s.features[1] - m.m1, 6) AS f1_c,
              |  round(s.features[2] - m.m2, 4) AS f2_c
              |FROM s JOIN m USING (descriptor)
              |ORDER BY descriptor, cls, sample_id, role, f1_c, f2_c""".stripMargin)),

    // ---- flagship, multi-DATABASE (VERDICT r8 item 7): the
    // reference's OUTER loop iterates databases, each cut under its
    // own decoded train/cv config (preprocess.py:110-141,319-372).
    // Two databases — lineitem features and an orders-derived table
    // with a DIFFERENT class key, feature arity, train fraction
    // (0.5 vs 0.25) and cv (5 vs 4) — run through
    // PreProcess.generatorMulti as ONE plan: broadcast per-db config,
    // trainSizeColDyn clamps per row, one (db, cls) rank shuffle for
    // both, per-db train-mean centering. The reference runs this as a
    // sequential per-database driver loop; at scale it is one
    // co-partitioned pass. ----
    ("gen_pipeline_multidb",
      (s: SparkSession, dir: String) => {
        val li = featureTable(s, dir)
          .select(lit("li").as("db"), lit("default").as("descriptor"),
            col("cls"), col("sample_id"), col("perm"),
            array(col("l_quantity"), col("l_extendedprice")).as("features"))
        val ord = Tables.load(s, dir, "orders")
          .select(lit("ord").as("db"), lit("default").as("descriptor"),
            col("o_orderpriority").as("cls"), col("o_orderkey").as("sample_id"),
            (((col("o_orderkey") % 999983L) * 2654435761L + 40503L) % 1000000007L).as("perm"),
            array(col("o_totalprice")).as("features"))
        val samples = TransformOps.unionAll(Seq(li, ord))
        val out = PreProcess.generatorMulti(samples,
          Seq(PreProcess.DbConfig("li", SplitOps.Frac(0.5), CV),
            PreProcess.DbConfig("ord", SplitOps.Frac(0.25), 4)),
          // total order: lineitem has duplicate (sample_id, perm)
          // pairs, so the features break the tie (same device as
          // gen_pipeline_multi)
          Seq(col("perm"), col("sample_id"), element_at(col("features"), 1),
            coalesce(try_element_at(col("features"), lit(2)), lit(0.0))),
          center = true)
        out.select(col("db"), col("cls"), col("sample_id"), col("role"),
            round(element_at(col("features_centered"), 1), 6).as("f1_c"),
            round(try_element_at(col("features_centered"), lit(2)), 4).as("f2_c"))
          .orderBy(col("db"), col("cls"), col("sample_id"), col("role"),
            col("f1_c"), col("f2_c"))
      },
      Some(s"""WITH f AS ($fSql),
              |li AS (SELECT 'li' AS db, cls, sample_id, perm,
              |         [l_quantity, l_extendedprice] AS features FROM f),
              |odb AS (SELECT 'ord' AS db, o_orderpriority AS cls, o_orderkey AS sample_id,
              |         ((o_orderkey % 999983) * 2654435761 + 40503) % 1000000007 AS perm,
              |         [o_totalprice] AS features FROM orders),
              |d AS (SELECT * FROM li UNION ALL SELECT * FROM odb),
              |r AS (SELECT *,
              |        row_number() OVER (PARTITION BY db, cls
              |          ORDER BY perm, sample_id, features[1], coalesce(features[2], 0)) AS rn,
              |        count(*) OVER (PARTITION BY db, cls) AS n
              |      FROM d),
              |s AS (SELECT *, CASE WHEN rn <= (CASE WHEN db = 'li'
              |        THEN ${tsFracSql("n", "0.5", CV)}
              |        ELSE ${tsFracSql("n", "0.25", 4)} END)
              |      THEN 'train' ELSE 'test' END AS role FROM r),
              |m AS (SELECT db, avg(features[1]) AS m1, avg(features[2]) AS m2
              |      FROM s WHERE role = 'train' GROUP BY db)
              |SELECT s.db, s.cls, s.sample_id, s.role,
              |  round(s.features[1] - m.m1, 6) AS f1_c,
              |  round(s.features[2] - m.m2, 4) AS f2_c
              |FROM s JOIN m USING (db)
              |ORDER BY db, cls, sample_id, role, f1_c, f2_c""".stripMargin)),

    // ---- P1: 1-based inclusive class-range slice ----
    ("p1_class_range",
      (s: SparkSession, dir: String) => {
        SliceOps.classRange(
          Tables.loadColumns(s, dir, "embeddings", Seq("vec_id", "label")), "label", (3, 7))
          .orderBy(col("vec_id"))
      },
      Some("SELECT vec_id, label FROM embeddings WHERE label BETWEEN 2 AND 6 ORDER BY vec_id")),

    // ---- S1/S6: .mat ROUNDTRIP under the oracle gate — the media-codec
    // pattern applied to the one previously unit-only source family.
    // An integer-spec feature table (quantized per-key checksums from
    // lineitem, so every value is an exact integer in a double) goes
    // out through Sinks.writeMat (MAT v5 cell layout) and comes back
    // through the graft-mat DataSource V2; the aggregate weights each
    // value by its recovered row_idx, so the oracle — which replays the
    // spec straight from lineitem with row_number() — checks values AND
    // the writer's (cls, sample_id) row ordering AND the reader's cell
    // indexing in one hash. The l_orderkey bound keeps the export at a
    // few thousand rows at EVERY sf (orderkey prefix density is
    // sf-independent), honoring writeMat's driver-side contract: .mat
    // is the single-machine interop edge, not a distributed sink —
    // table-scale data goes to parquet (Sinks scaladoc). ----
    ("mat_roundtrip",
      (s: SparkSession, dir: String) => {
        val corpusKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
        val path = sys.props("java.io.tmpdir").stripSuffix("/") +
          s"/graft-mat-roundtrip_$corpusKey.mat"
        val feat = Tables.load(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 10000)
          .groupBy(
            when(col("l_returnflag") === "A", 0)
              .when(col("l_returnflag") === "N", 1).otherwise(2).as("cls"),
            (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("sample_id"))
          .agg(
            sum(round(col("l_quantity")).cast("long")).as("f0"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("f1"),
            count(lit(1)).as("f2"))
          .select(col("cls"), col("sample_id"),
            array(col("f0").cast("double"), col("f1").cast("double"),
              col("f2").cast("double")).as("features"))
        graft.sources.Sinks.writeMat(feat, path, "cls", "sample_id", "features")
        s.read.format("graft-mat").load(path)
          .filter(col("var") === "x" && col("cls") >= 1)
          .select(col("cls"), col("row_idx"), col("vals"))
          .groupBy(col("cls"))
          .agg(count(lit(1)).as("n_rows"),
            sum((col("row_idx") + 1).cast("long") * col("vals")(0).cast("long")).as("ck_qty"),
            sum((col("row_idx") + 1).cast("long") * col("vals")(1).cast("long")).as("ck_price"),
            sum(col("vals")(2).cast("long")).as("n_src_rows"))
          .orderBy(col("cls"))
      },
      Some("""WITH f AS (SELECT
             |    CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END AS cls,
             |    l_orderkey * 10 + l_linenumber AS sample_id,
             |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS f0,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS f1,
             |    CAST(count(*) AS BIGINT) AS f2
             |  FROM lineitem WHERE l_orderkey <= 10000 GROUP BY 1, 2),
             |r AS (SELECT cls,
             |    row_number() OVER (PARTITION BY cls ORDER BY sample_id) - 1 AS row_idx,
             |    f0, f1, f2 FROM f)
             |SELECT cls, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum((row_idx + 1) * f0) AS BIGINT) AS ck_qty,
             |  CAST(sum((row_idx + 1) * f1) AS BIGINT) AS ck_price,
             |  CAST(sum(f2) AS BIGINT) AS n_src_rows
             |FROM r WHERE cls >= 1 GROUP BY cls ORDER BY cls""".stripMargin)),

    // ---- P2: label-entry drop (intended semantics of the reference's dead flag) ----
    ("p2_label_drop",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "embeddings").select(
          col("vec_id"),
          size(SliceOps.dropLabelEntry(col("embedding"), labeled = true)).cast("long").as("n_after"),
          expr("CAST(element_at(embedding, size(embedding) - 1) AS DOUBLE)").as("last_kept"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, CAST(len(embedding) - 1 AS BIGINT) AS n_after,
             |  CAST(embedding[len(embedding) - 1] AS DOUBLE) AS last_kept
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- J1: permutation gather (equi-join against one trial of a stored permutation) ----
    ("j1_perm_gather",
      (s: SparkSession, dir: String) => {
        val o = Tables.load(s, dir, "orders").select(
          col("o_orderpriority").as("cls"), col("o_orderkey").as("sample_id"), col("o_totalprice"))
        val trials = s.range(3).select(col("id").cast("int").as("trial"))
        val perm = o.select("cls", "sample_id").crossJoin(broadcast(trials))
          .withColumn("h",
            ((col("sample_id") % 999983L) * (lit(2654435761L) + col("trial") * 1000003L) + col("trial")) % 1000000007L)
          .withColumn("pos",
            (row_number().over(Window.partitionBy(col("cls"), col("trial"))
              .orderBy(col("h"), col("sample_id"))) - 1).cast("long"))
          .select("cls", "trial", "pos", "sample_id")
        PermOps.gather(o, perm, Seq("cls"), "sample_id", trial = 1)
          .select(col("cls"), col("pos"), col("sample_id"), col("o_totalprice"))
          .orderBy(col("cls"), col("pos"))
      },
      Some("""WITH o AS (SELECT o_orderpriority AS cls, o_orderkey AS sample_id, o_totalprice FROM orders),
             |p AS (SELECT cls, sample_id, g.trial,
             |        row_number() OVER (PARTITION BY cls, g.trial
             |          ORDER BY ((sample_id % 999983) * (2654435761 + g.trial * 1000003) + g.trial) % 1000000007, sample_id) - 1 AS pos
             |      FROM o, generate_series(0, 2) g(trial))
             |SELECT o.cls, p.pos, o.sample_id, o.o_totalprice
             |FROM o JOIN p ON o.cls = p.cls AND o.sample_id = p.sample_id AND p.trial = 1
             |ORDER BY o.cls, p.pos""".stripMargin)),

    // ---- J2: MATLAB 1-based permutation-index normalization ----
    ("j2_index_norm",
      (s: SparkSession, dir: String) => {
        val o = Tables.load(s, dir, "orders").select(
          col("o_orderpriority").as("cls"), col("o_orderkey").as("sample_id"),
          ((col("o_orderkey") % 999983L) * 2654435761L % 1000000007L).as("h"))
        val r = SplitOps.rankByPermutation(o, Seq("cls"), Seq(col("h"), col("sample_id")))
        val mixed = r.withColumn("pos_val",
          when(col("cls").isin("1-URGENT", "2-HIGH"), col("rn")).otherwise(col("rn") - 1))
        PermOps.normalizeIndices(mixed, Seq("cls"), "pos_val")
          .select(col("cls"), col("sample_id"), col("pos_val"))
          .orderBy(col("cls"), col("pos_val"))
      },
      Some("""WITH o AS (SELECT o_orderpriority AS cls, o_orderkey AS sample_id,
             |             ((o_orderkey % 999983) * 2654435761) % 1000000007 AS h FROM orders),
             |r AS (SELECT cls, sample_id,
             |        row_number() OVER (PARTITION BY cls ORDER BY h, sample_id) AS rn,
             |        count(*) OVER (PARTITION BY cls) AS n FROM o),
             |p AS (SELECT cls, sample_id, n,
             |        CASE WHEN cls IN ('1-URGENT', '2-HIGH') THEN rn ELSE rn - 1 END AS pos_val FROM r)
             |SELECT cls, sample_id,
             |  CASE WHEN max(pos_val) OVER (PARTITION BY cls) = n THEN pos_val - 1 ELSE pos_val END AS pos_val
             |FROM p ORDER BY cls, pos_val""".stripMargin)),

    // ---- J3: hyperparameter grid in kron order ----
    ("j3_grid",
      (s: SparkSession, dir: String) =>
        GridOps.grid(s, Seq(Seq(0.1, 1.0), Seq(2.0), Seq(3.0, 4.0, 5.0))).orderBy(col("combo_id")),
      Some("""WITH p1(i1, v1) AS (VALUES (0, 0.1), (1, 1.0)),
             |p2(i2, v2) AS (VALUES (0, 2.0)),
             |p3(i3, v3) AS (VALUES (0, 3.0), (1, 4.0), (2, 5.0))
             |SELECT CAST(i1 * 3 + i2 * 3 + i3 AS BIGINT) AS combo_id,
             |  CAST(v1 AS DOUBLE) AS p1, CAST(v2 AS DOUBLE) AS p2, CAST(v3 AS DOUBLE) AS p3
             |FROM p1, p2, p3 ORDER BY combo_id""".stripMargin)),

    // ---- T1: bias extension ----
    ("t1_extend",
      (s: SparkSession, dir: String) => {
        val f = featureTable(s, dir)
          .withColumn("fe", TransformOps.extendBias(array(col("l_quantity"), col("l_extendedprice"))))
        f.select(col("cls"), col("sample_id"),
            size(col("fe")).cast("long").as("n_feat"),
            element_at(col("fe"), -1).as("f_last"),
            col("l_quantity").as("f1"), col("l_extendedprice").as("f2"))
          .orderBy(col("cls"), col("sample_id"), col("f1"), col("f2"))
      },
      Some(s"""WITH f AS ($fSql),
              |e AS (SELECT cls, sample_id, l_quantity, l_extendedprice,
              |        [l_quantity, l_extendedprice, CAST(1.0 AS DOUBLE)] AS fe FROM f)
              |SELECT cls, sample_id, CAST(len(fe) AS BIGINT) AS n_feat, fe[-1] AS f_last,
              |  l_quantity AS f1, l_extendedprice AS f2
              |FROM e ORDER BY cls, sample_id, f1, f2""".stripMargin)),

    // ---- T5: class counting ----
    ("t5_class_count",
      (s: SparkSession, dir: String) => {
        val li = TransformOps.classCount(Tables.load(s, dir, "lineitem"), Nil, "l_returnflag")
          .withColumn("tbl", lit("lineitem"))
        val sup = TransformOps.classCount(Tables.load(s, dir, "supplier"), Nil, "s_nationkey")
          .withColumn("tbl", lit("supplier"))
        TransformOps.unionAll(Seq(li, sup)).select("tbl", "class_num").orderBy("tbl")
      },
      Some("""SELECT 'lineitem' AS tbl, count(DISTINCT l_returnflag) AS class_num FROM lineitem
             |UNION ALL
             |SELECT 'supplier' AS tbl, count(DISTINCT s_nationkey) AS class_num FROM supplier
             |ORDER BY tbl""".stripMargin)),

    // ---- T5 scale twin: HyperLogLog++ approximate distinct. The
    // exact countDistinct expands to a two-key shuffle (Expand +
    // distinct agg); the HLL sketch is one map-side-combinable pass
    // with O(1/rsd²) memory per group — the 100 TB cardinality path
    // runs the sketch ALONE. The HLL value is engine-specific, so this
    // oracle row certifies it instead of matching it (VERDICT r8
    // item 3): exact counts value-checked by DuckDB plus an integer
    // verdict that |approx − exact| ≤ 3·rsd·exact (the HLL++ paper's
    // 3-sigma band, unit-pinned in TransformOpsSpec). DuckDB replays
    // the verdict as a literal 1: a sketch outside its error bound
    // flips the Spark side to 0 and the hash gate goes red. ----
    ("t5_class_count_approx",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_linestatus"))
          .agg(
            approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .select(col("l_linestatus"), col("exact_parts"),
            (abs(col("approx") - col("exact_parts")) <= col("exact_parts") * lit(3 * 0.02))
              .cast("int").as("within_3rsd"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus, count(DISTINCT l_partkey) AS exact_parts, 1 AS within_3rsd
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // ---- global top-N: per-partition heap + driver merge of N
    // (TakeOrderedAndProject), never a cluster-wide sort — the only
    // sane shape for "top 10 of 100 TB" (plan-asserted in PlanSpec) ----
    ("q_topn_global",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- T6: schema-aligned union ----
    ("t6_union",
      (s: SparkSession, dir: String) => {
        val c = Tables.load(s, dir, "customer")
          .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"), lit("customer").as("src"))
        val sup = Tables.load(s, dir, "supplier")
          .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"), lit("supplier").as("src"))
        TransformOps.unionAll(Seq(c, sup)).orderBy(col("src"), col("name"), col("acctbal"))
      },
      Some("""SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS src FROM customer
             |UNION ALL
             |SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS src FROM supplier
             |ORDER BY src, name, acctbal""".stripMargin)),

    // ---- T7: deterministic delimiter-join per group ----
    ("t7_string_join",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("cls"))
          .agg(TransformOps.stringJoinAgg(col("s_name"), ",").as("names"))
          .orderBy(col("cls"))
      },
      Some("""SELECT s_nationkey AS cls, string_agg(s_name, ',' ORDER BY s_name) AS names
             |FROM supplier GROUP BY s_nationkey ORDER BY cls""".stripMargin)),

    // ---- join menu: broadcast multi-join with top-k (TPC-H Q3 shape) ----
    ("q3_top_revenue",
      (s: SparkSession, dir: String) => {
        val c = Tables.load(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
        val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
        broadcast(c).join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
             |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
             |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             |WHERE c.c_mktsegment = 'BUILDING'
             |GROUP BY o.o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- join menu: left semi (EXISTS) ----
    ("j_semi",
      (s: SparkSession, dir: String) => {
        val c = Tables.load(s, dir, "customer")
        val urgent = Tables.load(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    // ---- join menu: left anti (NOT EXISTS) ----
    ("j_anti",
      (s: SparkSession, dir: String) => {
        val o = Tables.load(s, dir, "orders")
        val returned = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        o.join(returned, o("o_orderkey") === returned("l_orderkey"), "left_anti")
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- join menu: range (theta) join against a literal band table ----
    ("j_range",
      (s: SparkSession, dir: String) => {
        val bands = s.createDataFrame(Seq(
          ("low", 0.0, 10.0), ("mid", 10.0, 100.0), ("high", 100.0, 1000000.0)))
          .toDF("band", "lo", "hi")
        Tables.load(s, dir, "events")
          .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
          .orderBy(col("band"))
      },
      Some("""WITH b(band, lo, hi) AS (VALUES
             |  ('low', CAST(0 AS DOUBLE), CAST(10 AS DOUBLE)),
             |  ('mid', CAST(10 AS DOUBLE), CAST(100 AS DOUBLE)),
             |  ('high', CAST(100 AS DOUBLE), CAST(1000000 AS DOUBLE)))
             |SELECT band, CAST(count(*) AS BIGINT) AS n, round(sum(e.value), 4) AS sum_value
             |FROM events e JOIN b ON e.value >= b.lo AND e.value < b.hi
             |GROUP BY band ORDER BY band""".stripMargin)),

    // ---- set ops: INTERSECT / EXCEPT (SURVEY §2.6 extension menu) ----
    ("set_intersect",
      (s: SparkSession, dir: String) => {
        val custNations = Tables.loadColumns(s, dir, "customer", Seq("c_nationkey"))
          .select(col("c_nationkey").as("nationkey")).distinct()
        val suppNations = Tables.loadColumns(s, dir, "supplier", Seq("s_nationkey"))
          .select(col("s_nationkey").as("nationkey")).distinct()
        custNations.intersect(suppNations).orderBy(col("nationkey"))
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |INTERSECT
             |SELECT s_nationkey AS nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    ("set_except",
      (s: SparkSession, dir: String) => {
        val ordered = Tables.loadColumns(s, dir, "orders", Seq("o_custkey"))
          .select(col("o_custkey").as("custkey"))
        val all = Tables.loadColumns(s, dir, "customer", Seq("c_custkey"))
          .select(col("c_custkey").as("custkey"))
        all.except(ordered).orderBy(col("custkey"))
      },
      Some("""SELECT c_custkey AS custkey FROM customer
             |EXCEPT
             |SELECT o_custkey AS custkey FROM orders
             |ORDER BY custkey""".stripMargin)),

    // ---- skew-safe aggregation: salted two-phase partial/final ----
    ("agg_salted",
      (s: SparkSession, dir: String) => {
        TransformOps.saltedAgg(
            Tables.load(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity", salt = 16,
            saltFrom = Seq(col("l_orderkey"), col("l_linenumber")))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, sum(l_quantity) AS sum_v, CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- skew-safe JOIN twin of agg_salted: enrich every lineitem
    // row with its class's group size, but the join key has only 3
    // values — a plain shuffle join puts a third of the corpus on one
    // task. saltedJoin spreads each class over 16 salt buckets;
    // result is exactly the plain join (the oracle). ----
    ("j_skew_salted",
      (s: SparkSession, dir: String) => {
        val fact = featureTable(s, dir)
          .select("cls", "sample_id", "l_quantity", "l_extendedprice")
        val dim = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("cls"))
          .agg(count(lit(1)).as("cls_n"))
        TransformOps.saltedJoin(fact, dim, Seq("cls"), salt = 16,
            saltFrom = Seq(col("sample_id"), col("l_quantity"), col("l_extendedprice")))
          .orderBy(col("cls"), col("sample_id"), col("l_quantity"), col("l_extendedprice"))
      },
      Some("""WITH f AS (SELECT l_returnflag AS cls,
             |    l_orderkey * 10 + l_linenumber AS sample_id, l_quantity, l_extendedprice
             |  FROM lineitem),
             |d AS (SELECT l_returnflag AS cls, CAST(count(*) AS BIGINT) AS cls_n
             |      FROM lineitem GROUP BY 1)
             |SELECT cls, sample_id, l_quantity, l_extendedprice, cls_n
             |FROM f JOIN d USING (cls)
             |ORDER BY cls, sample_id, l_quantity, l_extendedprice""".stripMargin)),

    // ---- X5+X2: media near-dup — perceptual-hash (STUB codec, real
    // plumbing) fingerprints paired by Hamming distance via the same
    // chunk-banded machinery as SimHash. Exact text dups have
    // identical blobs (hamming 0); the banding never cross-joins. ----
    ("x5_phash_neardup",
      (s: SparkSession, dir: String) => {
        val fps = MultimodalOps.pHashStub(
          MultimodalOps.documentsAsBlobs(Tables.load(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "blob")
        DedupOps.simHashPairs(fps, maxHamming = 4)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy(col("doc1"), col("doc2"))
      },
      Some(s"""WITH b AS (SELECT doc_id,
             |    list_transform(range(1, length(text) + 1), i -> ord(substr(text, CAST(i AS INT), 1))) AS bytes
             |  FROM documents),
             |f AS (SELECT doc_id, ${(0 until 8).map(b =>
                  s"(len(list_filter(bytes, x -> x % 8 = $b)) % 128) * ${1L << (8 * b)}").mkString(" + ")} AS fp
             |  FROM b),
             |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             |        bit_count(xor(a.fp, b.fp)) AS hamming
             |      FROM f a JOIN f b ON a.doc_id < b.doc_id)
             |SELECT doc1, doc2, CAST(hamming AS BIGINT) AS hamming
             |FROM p WHERE hamming <= 4 ORDER BY doc1, doc2""".stripMargin)),

    // ---- X5 (audio): REAL WAV decode via the JDK codec
    // (javax.sound) reduced to per-clip stats — the decode-then-
    // summarize screen audio curation runs before ASR. Blobs are
    // synthesized per doc through the real RIFF writer from a pure
    // integer waveform (even 160-sample windows silent, odd loud), so
    // the oracle replays the DECODED samples exactly while Spark
    // round-trips every byte through the codec
    // (llm/AudioCodec, llm/MultimodalOps.audioStats). ----
    ("x5_audio_stats",
      (s: SparkSession, dir: String) => {
        MultimodalOps.audioStats(
            MultimodalOps.documentsAsAudio(Tables.load(s, dir, "documents"), "doc_id"),
            "doc_id", "blob")
          .toDF().orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, 200 + doc_id % 100 AS n FROM documents),
             |g AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d),
             |v AS (SELECT doc_id, n,
             |        ((doc_id * 31 + i * 7) % 2048 - 1024) * ((i // 160) % 2) AS s
             |      FROM g)
             |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
             |  CAST(max(n) AS BIGINT) AS n_samples,
             |  CAST(max(n) * 1000000 // 8000 AS BIGINT) AS duration_us,
             |  CAST(max(abs(s)) AS BIGINT) AS peak_abs,
             |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
             |  CAST(count(CASE WHEN abs(s) < 64 THEN 1 END) * 1000000 // max(n) AS BIGINT) AS silence_ppm
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X5 (audio): energy windowing / VAD shape — decode, split
    // into 160-sample (20 ms at 8 kHz) frames, exact per-window energy
    // + silence verdict; the one-to-many explode of diarization
    // front-ends (llm/MultimodalOps.audioEnergyWindows). The synth
    // waveform makes even windows digital silence and odd windows
    // loud, so both verdict classes are exercised. ----
    ("x5_audio_vad",
      (s: SparkSession, dir: String) => {
        MultimodalOps.audioEnergyWindows(
            MultimodalOps.documentsAsAudio(
              Tables.load(s, dir, "documents").filter(col("doc_id") % 20 === 7), "doc_id"),
            "doc_id", "blob", windowSamples = 160)
          .toDF().orderBy(col("doc_id"), col("win_no"))
      },
      Some("""WITH d AS (SELECT doc_id, 200 + doc_id % 100 AS n FROM documents
             |           WHERE doc_id % 20 = 7),
             |g AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d),
             |v AS (SELECT doc_id, i // 160 AS win_no,
             |        ((doc_id * 31 + i * 7) % 2048 - 1024) * ((i // 160) % 2) AS s
             |      FROM g)
             |SELECT doc_id, CAST(win_no AS BIGINT) AS win_no,
             |  CAST(count(*) AS BIGINT) AS n, CAST(sum(s * s) AS BIGINT) AS sum_sq,
             |  CAST(max(abs(s)) AS BIGINT) AS peak_abs,
             |  max(abs(s)) < 64 AS is_silent
             |FROM v GROUP BY doc_id, win_no ORDER BY doc_id, win_no""".stripMargin)),

    // ---- X5 (audio): exact 2× upsampling — sample-rate normalization
    // before a fixed-rate model (8 kHz telephony → 16 kHz ASR): even
    // outputs copy the input, odd ones are floor-midpoints (floorDiv,
    // engine-exact for negative samples); the result re-encodes AND
    // re-parses through the codec before summarizing
    // (llm/MultimodalOps.audioUpsample2x). ----
    ("x5_audio_resample",
      (s: SparkSession, dir: String) => {
        MultimodalOps.audioUpsample2x(
            MultimodalOps.documentsAsAudio(
              Tables.load(s, dir, "documents").filter(col("doc_id") % 10 === 6), "doc_id"),
            "doc_id", "blob")
          .toDF().orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, 200 + doc_id % 100 AS n FROM documents
             |           WHERE doc_id % 10 = 6),
             |g AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d),
             |v AS (SELECT doc_id, n, i,
             |        ((doc_id * 31 + i * 7) % 2048 - 1024) * ((i // 160) % 2) AS s
             |      FROM g),
             |up AS (SELECT doc_id, n, s FROM v
             |       UNION ALL
             |       SELECT a.doc_id, a.n, (a.s + b.s) // 2 AS s
             |       FROM v a JOIN v b ON b.doc_id = a.doc_id AND b.i = a.i + 1)
             |SELECT doc_id, CAST(8000 AS BIGINT) AS in_rate, CAST(16000 AS BIGINT) AS out_rate,
             |  CAST(max(n) AS BIGINT) AS n_in, CAST(2 * max(n) - 1 AS BIGINT) AS n_out,
             |  CAST(max(abs(s)) AS BIGINT) AS out_peak, CAST(sum(s * s) AS BIGINT) AS out_sum_sq
             |FROM up GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X6 (batch form): tumbling time-window aggregation ----
    ("x6_tumbling_window",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
          .orderBy(col("ws"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS ws, event_type,
             |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // ---- X6: windowed distinct users, HLL-sketched — bounded state
    // per (window × type) where exact streaming countDistinct holds
    // every id in every live window (stream twin:
    // StreamOps.distinctUsersStream, spec-pinned equal). Exact anchor
    // + bound verdict, the t5/x4 certification pattern. ----
    ("x6_distinct_users",
      (s: SparkSession, dir: String) => {
        Tables.load(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
          .agg(
            hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("est"),
            countDistinct(col("user_id")).as("n_users"))
          .select(col("ws"), col("event_type"), col("n_users"),
            (abs(col("est") - col("n_users")) <=
              greatest(lit(4.0), col("n_users") * lit(0.05))).cast("int").as("within_bound"))
          .orderBy(col("ws"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS ws, event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, 1 AS within_bound
             |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // ---- X6: event-time interval join (click -> views within 30 min;
    // the stream-stream twin with watermark state expiry is
    // StreamOps.intervalJoin on two readStreams, spec-tested equal) ----
    ("x6_interval_join",
      (s: SparkSession, dir: String) => {
        val e = Tables.load(s, dir, "events")
        StreamOps.intervalJoin(
            e.filter(col("event_type") === "click"),
            e.filter(col("event_type") === "view"),
            withinMinutes = 30)
          .orderBy(col("left_id"), col("right_id"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
             |SELECT a.event_id AS left_id, b.event_id AS right_id, a.user_id,
             |  b.us - a.us AS gap_us
             |FROM e a JOIN e b ON a.user_id = b.user_id
             |  AND a.event_type = 'click' AND b.event_type = 'view'
             |  AND b.us >= a.us AND b.us - a.us <= CAST(30 * 60 AS BIGINT) * 1000000
             |ORDER BY left_id, right_id""".stripMargin)),

    // ---- X6: LEFT-OUTER interval join — keeps the clicks that never
    // led to a view (the unconverted half attribution needs); null
    // right side sorted via a -1 coalesce so both engines order
    // identically (streaming/StreamOps.intervalJoinOuterWithin). ----
    ("x6_interval_join_outer",
      (s: SparkSession, dir: String) => {
        val e = Tables.load(s, dir, "events")
        StreamOps.intervalJoinOuterWithin(
            e.filter(col("event_type") === "click"),
            e.filter(col("event_type") === "view"),
            "30 MINUTES")
          .orderBy(col("left_id"), coalesce(col("right_id"), lit(-1L)))
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
             |l AS (SELECT * FROM e WHERE event_type = 'click'),
             |r AS (SELECT * FROM e WHERE event_type = 'view')
             |SELECT l.event_id AS left_id, r.event_id AS right_id, l.user_id,
             |  r.us - l.us AS gap_us
             |FROM l LEFT JOIN r ON l.user_id = r.user_id
             |  AND r.us >= l.us AND r.us - l.us <= CAST(30 * 60 AS BIGINT) * 1000000
             |ORDER BY left_id, COALESCE(right_id, -1)""".stripMargin)),

    // ---- deterministic stratified sampling (engine-neutral md5 key
    // hash so DuckDB reproduces the exact sample membership) ----
    ("t_sample_stratified",
      (s: SparkSession, dir: String) => {
        TransformOps.sampleStratified(
            featureTable(s, dir).select("cls", "sample_id", "l_quantity", "l_extendedprice"),
            "cls", "sample_id",
            fractions = Map("A" -> 0.3, "N" -> 0.1, "R" -> 0.5), default = 0.0,
            hash = k => DedupOps.md5TokenHash(k.cast("string")))
          .orderBy(col("cls"), col("sample_id"), col("l_quantity"), col("l_extendedprice"))
      },
      Some("""WITH f AS (SELECT l_returnflag AS cls,
             |    l_orderkey * 10 + l_linenumber AS sample_id, l_quantity, l_extendedprice
             |  FROM lineitem),
             |h AS (SELECT *, CAST(('0x' || substr(md5(CAST(sample_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS hv FROM f)
             |SELECT cls, sample_id, l_quantity, l_extendedprice FROM h
             |WHERE hv < (CASE cls WHEN 'A' THEN 0.3 WHEN 'N' THEN 0.1 WHEN 'R' THEN 0.5 ELSE 0.0 END) * 1000000
             |ORDER BY cls, sample_id, l_quantity, l_extendedprice""".stripMargin)),

    // ---- PRODUCTION-hash twin of t_sample_stratified: the operator's
    // DEFAULT xxhash64 key hash (pure codegen, no md5 string round
    // trip) — oracle-EXACT via the long-XXH64 DuckDB replica, hashed
    // once per DISTINCT key then joined back (hv is a pure key
    // function, so dup sample_ids inherit it). The md5 row stays as
    // the engine-neutral anchor; this row is what ships. ----
    ("t_sample_stratified_prod",
      (s: SparkSession, dir: String) => {
        TransformOps.sampleStratified(
            featureTable(s, dir).select("cls", "sample_id", "l_quantity", "l_extendedprice"),
            "cls", "sample_id",
            fractions = Map("A" -> 0.3, "N" -> 0.1, "R" -> 0.5), default = 0.0)
          .orderBy(col("cls"), col("sample_id"), col("l_quantity"), col("l_extendedprice"))
      },
      Some(s"""WITH f AS (SELECT l_returnflag AS cls,
             |    l_orderkey * 10 + l_linenumber AS sample_id, l_quantity, l_extendedprice
             |  FROM lineitem),
             |k AS (SELECT DISTINCT sample_id FROM f),
             |${xxhash64LongCtes("k", "sample_id")},
             |h AS (SELECT f.*, ((hx.xx64 % 1000000) + 1000000) % 1000000 AS hv
             |      FROM f JOIN hx USING (sample_id))
             |SELECT cls, sample_id, l_quantity, l_extendedprice FROM h
             |WHERE hv < (CASE cls WHEN 'A' THEN 0.3 WHEN 'N' THEN 0.1 WHEN 'R' THEN 0.5 ELSE 0.0 END) * 1000000
             |ORDER BY cls, sample_id, l_quantity, l_extendedprice""".stripMargin)),

    // ---- deterministic WEIGHTED sampling: acceptance ∝ document
    // length (importance sampling for corpus curation), decided by the
    // engine-neutral md5 key hash — exact sample membership reproduced
    // by the oracle ----
    ("t_weighted_sample",
      (s: SparkSession, dir: String) => {
        TransformOps.sampleWeighted(
            Tables.load(s, dir, "documents").select("doc_id", "n_chars", "source"),
            "doc_id", "n_chars", scale = 0.5,
            hash = k => DedupOps.md5TokenHash(k.cast("string")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id, n_chars, source,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS hv
             |  FROM documents),
             |m AS (SELECT max(n_chars) AS maxw FROM documents)
             |SELECT doc_id, n_chars, source FROM h, m
             |WHERE hv < CAST(n_chars AS DOUBLE) / CAST(maxw AS DOUBLE) * 0.5 * 1000000
             |ORDER BY doc_id""".stripMargin)),

    // ---- PRODUCTION-hash twin of t_weighted_sample: the DEFAULT
    // xxhash64 key hash; acceptance threshold arithmetic identical,
    // membership replayed exactly by the long-XXH64 replica. ----
    ("t_weighted_sample_prod",
      (s: SparkSession, dir: String) => {
        TransformOps.sampleWeighted(
            Tables.load(s, dir, "documents").select(
              // widen the hash key BEFORE the default xxhash64 inside
              // sampleWeighted — an INT32 drift would take the 4-byte
              // hash path the long-XXH64 replica doesn't model
              col("doc_id").cast("long").as("doc_id"),
              col("n_chars"), col("source")),
            "doc_id", "n_chars", scale = 0.5)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH k AS (SELECT doc_id FROM documents),
             |${xxhash64LongCtes("k", "doc_id")},
             |m AS (SELECT max(n_chars) AS maxw FROM documents),
             |h AS (SELECT d.doc_id, d.n_chars, d.source,
             |        ((hx.xx64 % 1000000) + 1000000) % 1000000 AS hv
             |      FROM documents d JOIN hx USING (doc_id))
             |SELECT doc_id, n_chars, source FROM h, m
             |WHERE hv < CAST(n_chars AS DOUBLE) / CAST(maxw AS DOUBLE) * 0.5 * 1000000
             |ORDER BY doc_id""".stripMargin)),

    // ---- X4: domain-mixture sampling — down-sample each source to a
    // target share of a char budget (the data-mixing stage between
    // curation and training). Engine-neutral md5 key hash; the group
    // totals, rates, and every keep decision replay exactly in SQL. ----
    ("x4_domain_mix",
      (s: SparkSession, dir: String) => {
        TransformOps.sampleToMixture(
            Tables.load(s, dir, "documents").select("doc_id", "source", "n_chars"),
            groupCol = "source", weightCol = "n_chars", keyCol = "doc_id",
            budget = 60000L,
            fractions = Map("src0" -> 0.2, "src1" -> 0.1), default = 0.03,
            hash = k => DedupOps.md5TokenHash(k.cast("string")))
          .select("doc_id", "source", "n_chars")
          .orderBy(col("doc_id"))
      },
      Some("""WITH s AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS wsum
             |           FROM documents GROUP BY source),
             |r AS (SELECT d.doc_id, d.source, d.n_chars,
             |        least(1.0, (CASE d.source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.1
             |                    ELSE 0.03 END) * CAST(60000 AS DOUBLE) / s.wsum) AS rate
             |      FROM documents d JOIN s USING (source))
             |SELECT doc_id, source, n_chars FROM r
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < rate * 1000000
             |ORDER BY doc_id""".stripMargin)),

    // ---- X4: 2-D domain mixture — the SAME op on a composite
    // (lang × source) cell via a concat key; per-cell shares over a
    // char budget. Pins that mixtures generalize beyond one grouping
    // dimension without any operator change. ----
    ("x4_domain_mix_2d",
      (s: SparkSession, dir: String) => {
        TransformOps.sampleToMixture(
            Tables.load(s, dir, "documents")
              .select(col("doc_id"), col("n_chars"),
                concat_ws("|", col("lang"), col("source")).as("cell")),
            groupCol = "cell", weightCol = "n_chars", keyCol = "doc_id",
            budget = 60000L,
            fractions = Map("en|src0" -> 0.3, "en|src1" -> 0.1, "de|src0" -> 0.2),
            default = 0.05,
            hash = k => DedupOps.md5TokenHash(k.cast("string")))
          .select("doc_id", "cell", "n_chars")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d0 AS (SELECT doc_id, n_chars, lang || '|' || source AS cell FROM documents),
             |s AS (SELECT cell, CAST(sum(n_chars) AS DOUBLE) AS wsum FROM d0 GROUP BY cell),
             |r AS (SELECT d.doc_id, d.cell, d.n_chars,
             |        least(1.0, (CASE d.cell WHEN 'en|src0' THEN 0.3 WHEN 'en|src1' THEN 0.1
             |                    WHEN 'de|src0' THEN 0.2 ELSE 0.05 END) * CAST(60000 AS DOUBLE) / s.wsum) AS rate
             |      FROM d0 d JOIN s USING (cell))
             |SELECT doc_id, cell, n_chars FROM r
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < rate * 1000000
             |ORDER BY doc_id""".stripMargin)),

    // ---- X1/X6: exact dedup on the event stream's batch twin —
    // first arrival (lowest event_id) per (user_id, event_type); the
    // streaming variant is StreamOps.dedupStream
    // (dropDuplicatesWithinWatermark), spec-tested equal on shared
    // input ----
    ("x6_dedup_events",
      (s: SparkSession, dir: String) => {
        DedupOps.exactDedup(
            Tables.load(s, dir, "events")
              .select(col("event_id"), col("user_id"), col("event_type")),
            struct(col("user_id"), col("event_type")), "event_id")
          .select(col("event_id"), col("user_id"), col("event_type"), col("n_dups"))
          .orderBy(col("event_id"))
      },
      Some("""WITH r AS (SELECT event_id, user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn,
             |    CAST(count(*) OVER (PARTITION BY user_id, event_type) AS BIGINT) AS n_dups
             |  FROM events)
             |SELECT event_id, user_id, event_type, n_dups FROM r WHERE rn = 1
             |ORDER BY event_id""".stripMargin)),

    // ---- X6: stream-static enrichment — events broadcast-joined to
    // the customer dimension, aggregated by market segment. The SAME
    // StreamOps.enrichWithDim body runs as a streaming stream-static
    // join (StreamOpsSpec); this batch twin is the oracle anchor. ----
    ("x6_stream_static",
      (s: SparkSession, dir: String) => {
        val dim = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        StreamOps.enrichWithDim(
            Tables.load(s, dir, "events").select(col("user_id"), col("event_type"), col("value")),
            dim, "user_id", "c_custkey")
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
          .orderBy(col("c_mktsegment"), col("event_type"))
      },
      Some("""SELECT c.c_mktsegment, e.event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(e.value), 4) AS sum_value
             |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY c.c_mktsegment, e.event_type
             |ORDER BY c.c_mktsegment, e.event_type""".stripMargin)),

    // ---- X1: exact dedup (keep lowest id per normalized key) —
    // window-free: two-phase hash agg (map-side combine absorbs key
    // skew) + join-back on the unique winning id ----
    ("x1_dedup_exact_scalable",
      (s: SparkSession, dir: String) => {
        DedupOps.exactDedup(Tables.load(s, dir, "documents"),
            substring(col("text"), 1, 50), "doc_id")
          .select(col("doc_id"), col("n_dups"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH xk AS (SELECT doc_id, substr(text, 1, 50) AS key FROM documents),
             |xr AS (SELECT doc_id,
             |        row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn,
             |        count(*) OVER (PARTITION BY key) AS cnt FROM xk)
             |SELECT doc_id, CAST(cnt AS BIGINT) AS n_dups FROM xr WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // ---- X1: canonical-document selection — the keep-one half of
    // exact dedup: every doc mapped to its group's canonical
    // representative (best by quality order, here chars desc then id).
    // Exact-dup groups share identical text, so the order degenerates
    // to lowest-id — the op's quality ordering is exercised on unequal
    // groups in DedupOpsSpec. ----
    ("x1_canonical_keep",
      (s: SparkSession, dir: String) => {
        DedupOps.canonicalKeep(Tables.load(s, dir, "documents"), "doc_id",
            md5(col("text")), Seq(col("n_chars").desc, col("doc_id")))
          .select(col("doc_id"), col("canonical_id"), col("group_n"),
            col("is_canonical").cast("long").as("is_canonical"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH r AS (SELECT doc_id,
             |    row_number() OVER w AS rn,
             |    count(*) OVER (PARTITION BY md5(text)) AS group_n,
             |    first_value(doc_id) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canonical_id
             |  FROM documents
             |  WINDOW w AS (PARTITION BY md5(text) ORDER BY n_chars DESC, doc_id))
             |SELECT doc_id, canonical_id, CAST(group_n AS BIGINT) AS group_n,
             |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- X2: substring-level duplication coverage (Lee et al. 2022
    // shape): fraction of each document covered by 8-word spans that
    // also occur in another document — catches partial copies that
    // document-level Jaccard misses. Linear in corpus tokens (span →
    // df → join back), never O(N²). ----
    ("x2_span_dedup",
      (s: SparkSession, dir: String) => {
        DedupOps.crossDocSpanStats(Tables.load(s, dir, "documents"), "doc_id", "text", 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sp AS (SELECT doc_id,
             |         unnest(list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' '))) AS span
             |       FROM t WHERE len(toks) >= 8),
             |df AS (SELECT span, count(*) AS ndocs
             |       FROM (SELECT DISTINCT doc_id, span FROM sp) GROUP BY span),
             |pd AS (SELECT sp.doc_id, count(*) AS n_spans,
             |         sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup
             |       FROM sp JOIN df USING (span) GROUP BY sp.doc_id)
             |SELECT d.doc_id,
             |  CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup,
             |  CASE WHEN coalesce(pd.n_spans, 0) = 0 THEN 0.0
             |       ELSE CAST(pd.n_dup AS DOUBLE) / pd.n_spans END AS dup_frac
             |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- X2: substring-level dedup, removal half — the cleaned
    // corpus with every cross-doc duplicated 8-word span removed
    // except its corpus-first occurrence. Linear in corpus tokens. ----
    ("x2_span_removal",
      (s: SparkSession, dir: String) => {
        DedupOps.removeDuplicateSpans(Tables.load(s, dir, "documents"), "doc_id", "text", 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
             |       FROM t WHERE len(toks) >= 8),
             |sp AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS span FROM s0),
             |st AS (SELECT span, count(DISTINCT doc_id) AS ndocs,
             |         min(doc_id * 1000000 + pos) AS firstk FROM sp GROUP BY span),
             |dup AS (SELECT sp.doc_id, sp.pos FROM sp JOIN st USING (span)
             |        WHERE st.ndocs >= 2 AND sp.doc_id * 1000000 + sp.pos <> st.firstk),
             |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS tpos FROM dup),
             |ti AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS tpos FROM t),
             |tok AS (SELECT doc_id, tpos, toks[tpos] AS tok FROM ti),
             |kept AS (SELECT tok.doc_id, tok.tpos, tok.tok FROM tok
             |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.tpos = cov.tpos
             |         WHERE cov.doc_id IS NULL),
             |o AS (SELECT doc_id, count(*) AS n_kept,
             |        string_agg(tok, ' ' ORDER BY tpos) AS clean_text
             |      FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, CAST(coalesce(o.n_kept, 0) AS BIGINT) AS n_kept,
             |  coalesce(o.clean_text, '') AS clean_text
             |FROM documents d LEFT JOIN o ON d.doc_id = o.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- X2: exact n-gram Jaccard near-dup pairs (inverted-index join) ----
    ("x2_jaccard_pairs",
      (s: SparkSession, dir: String) => {
        val sh = DedupOps.wordShingles(Tables.load(s, dir, "documents"), "doc_id", "text", 5)
        // uncapped quadratic anchor (x2_jaccard_pairs_capped below is
        // the registered scale shape with the df cap replayed)
        DedupOps.jaccardPairs(sh, 1, 2, maxDocFreq = Int.MaxValue)
          .orderBy(col("doc1"), col("doc2"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
             |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
             |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
             |  CAST(z1.n_sh + z2.n_sh - inter AS BIGINT) AS uni
             |FROM p JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
             |WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)
             |ORDER BY doc1, doc2""".stripMargin)),

    // ---- X2: n-gram Jaccard with the hot-shingle document-frequency
    // cap — the 100 TB shape of x2_jaccard_pairs: shingles shared by
    // more than maxDocFreq docs are dropped from the inverted index
    // BEFORE the pair join (a boilerplate shingle in M docs costs M²
    // pair rows; the cap bounds it at maxDocFreq²). The oracle replays
    // the cap exactly (df CTE + join), so the registered scale shape
    // is hash-green, not just the quadratic anchor. maxDocFreq=2
    // genuinely bites at sf0.01 (74 shingles have df=3). ----
    ("x2_jaccard_pairs_capped",
      (s: SparkSession, dir: String) => {
        val sh = DedupOps.wordShingles(Tables.load(s, dir, "documents"), "doc_id", "text", 5)
        DedupOps.jaccardPairs(sh, 1, 2, maxDocFreq = 2)
          .orderBy(col("doc1"), col("doc2"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
             |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
             |df AS (SELECT sh FROM s GROUP BY sh HAVING count(DISTINCT doc_id) <= 2),
             |rare AS (SELECT s.* FROM s JOIN df USING (sh)),
             |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
             |      FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
             |  CAST(z1.n_sh + z2.n_sh - inter AS BIGINT) AS uni
             |FROM p JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
             |WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)
             |ORDER BY doc1, doc2""".stripMargin)),

    // ---- X2: cross-corpus contamination (benchmark-leakage check):
    // best-matching train doc per eval doc by shingle Jaccard ----
    ("x2_contamination",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val trainSh = DedupOps.wordShingles(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text", 5)
        val evalSh = DedupOps.wordShingles(
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", 5)
        // uncapped quadratic anchor (x2_contamination_capped below is
        // the registered scale shape with the df cap replayed)
        DedupOps.contamination(trainSh, evalSh, maxDocFreq = Int.MaxValue)
          .orderBy(col("eval_doc"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS sh FROM s0),
             |tr AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
             |ev AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
             |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_t FROM tr GROUP BY 1),
             |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_e FROM ev GROUP BY 1),
             |it AS (SELECT ev.doc_id AS eval_doc, tr.doc_id AS train_doc,
             |         CAST(count(*) AS BIGINT) AS inter
             |       FROM ev JOIN tr ON ev.sh = tr.sh GROUP BY 1, 2),
             |sc AS (SELECT eval_doc, train_doc, inter, n_e + n_t - inter AS uni,
             |         CAST(inter AS DOUBLE) / (n_e + n_t - inter) AS jaccard
             |       FROM it JOIN ne ON ne.doc_id = eval_doc JOIN nt ON nt.doc_id = train_doc),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY eval_doc ORDER BY jaccard DESC, train_doc) AS rn FROM sc)
             |SELECT eval_doc, train_doc, inter, uni, jaccard FROM rk WHERE rn = 1
             |ORDER BY eval_doc""".stripMargin)),

    // ---- X2: contamination with the train-side hot-shingle cap —
    // the 100 TB shape of x2_contamination: train shingles with
    // document frequency > maxDocFreq never enter the inverted-index
    // join (it is the TRAIN side that is web-scale and boilerplate-
    // heavy; eval benchmarks are small and stay uncapped). The oracle
    // replays the cap (HAVING count(DISTINCT doc_id) <= 2 on the
    // train inverted index). ----
    ("x2_contamination_capped",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val trainSh = DedupOps.wordShingles(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text", 5)
        val evalSh = DedupOps.wordShingles(
          docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", 5)
        DedupOps.contamination(trainSh, evalSh, maxDocFreq = 2)
          .orderBy(col("eval_doc"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS sh FROM s0),
             |tr AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
             |ev AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
             |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_t FROM tr GROUP BY 1),
             |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_e FROM ev GROUP BY 1),
             |tdf AS (SELECT sh FROM tr GROUP BY sh HAVING count(DISTINCT doc_id) <= 2),
             |rt AS (SELECT tr.* FROM tr JOIN tdf USING (sh)),
             |it AS (SELECT ev.doc_id AS eval_doc, rt.doc_id AS train_doc,
             |         CAST(count(*) AS BIGINT) AS inter
             |       FROM ev JOIN rt ON ev.sh = rt.sh GROUP BY 1, 2),
             |sc AS (SELECT eval_doc, train_doc, inter, n_e + n_t - inter AS uni,
             |         CAST(inter AS DOUBLE) / (n_e + n_t - inter) AS jaccard
             |       FROM it JOIN ne ON ne.doc_id = eval_doc JOIN nt ON nt.doc_id = train_doc),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY eval_doc ORDER BY jaccard DESC, train_doc) AS rn FROM sc)
             |SELECT eval_doc, train_doc, inter, uni, jaccard FROM rk WHERE rn = 1
             |ORDER BY eval_doc""".stripMargin)),

    // ---- X2 at scale: Bloom-filter decontamination — eval shingles
    // fold into ONE broadcast bitmap (128 KiB), train probes it
    // scan-locally; train is never shuffled. Deterministic md5 probe
    // positions make even the Bloom bitmap oracle-exact: DuckDB
    // rebuilds the SET of set positions and replays every probe. ----
    ("x2_bloom_decontam",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        DedupOps.bloomDecontaminate(
            train = docs.filter(col("doc_id") % 20 =!= 0),
            eval = docs.filter(col("doc_id") % 20 === 0),
            w = 5, mBits = 1 << 20, k = 3,
            probeHash = (sh, i) =>
              DedupOps.md5TokenHash(concat_ws(":", sh, i.cast("string"))))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS sh FROM s0),
             |bits AS (SELECT DISTINCT
             |    CAST(('0x' || substr(md5(sh || ':' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 AS pos
             |  FROM sh, range(3) r(i) WHERE doc_id % 20 = 0),
             |tp AS (SELECT doc_id, sh,
             |    CAST(('0x' || substr(md5(sh || ':' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 AS pos
             |  FROM sh, range(3) r(i) WHERE doc_id % 20 <> 0),
             |pr AS (SELECT tp.doc_id, tp.sh,
             |    CAST(count(*) AS BIGINT) AS n_probe, CAST(count(b.pos) AS BIGINT) AS n_set
             |  FROM tp LEFT JOIN bits b ON tp.pos = b.pos GROUP BY tp.doc_id, tp.sh)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             |  CAST(sum(CASE WHEN n_set = n_probe THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             |  sum(CASE WHEN n_set = n_probe THEN 1 ELSE 0 END) > 0 AS flagged
             |FROM pr GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X2 at scale: Bloom decontamination on the PRODUCTION hash —
    // probe positions from xxhash64(shingle, i) (the
    // bloomDecontaminate default; the md5 anchor above exists only as
    // the engine-neutral oracle form and has been its own dominant
    // cost since r5). Oracle-EXACT via the full string-XXH64 DuckDB
    // replica: the shingle hashes once per distinct string, each
    // probe chains the int argument — same bitmap-membership verdict
    // as the anchor. ----
    ("x2_bloom_decontam_prod",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        DedupOps.bloomDecontaminate(
            train = docs.filter(col("doc_id") % 20 =!= 0),
            eval = docs.filter(col("doc_id") % 20 === 0),
            w = 5, mBits = 1 << 20, k = 3)
          .orderBy(col("doc_id"))
      },
      Some(bloomDecontamXxOracleSql)),

    // ---- X4: context-window chunking (training-sequence cutting) ----
    ("x4_chunk_windows",
      (s: SparkSession, dir: String) => {
        TextOps.chunkTokens(Tables.load(s, dir, "documents"), "doc_id", "text",
            window = 64, stride = 48)
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |c AS (SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks), 1), 48)) AS s FROM t)
             |SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
             |  array_to_string(list_slice(toks, s, s + 63), ' ') AS chunk_text,
             |  CAST(len(list_slice(toks, s, s + 63)) AS BIGINT) AS n_tokens
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- X4: deterministic corpus shuffle for training order — W1's
    // scalable rank machinery applied globally with an engine-neutral
    // content hash: range-partition by hash, rank locally, add
    // broadcast offsets. No single global sort, reproducible on any
    // engine. The constant `corpus` key must be NON-FOLDABLE
    // (`doc_id * 0`, same idiom as SplitOps.classOffsets): a
    // `lit(0)` gets constant-folded OUT of the window partition spec,
    // leaving the (tiny, one-row-per-partition) offsets window formally
    // unpartitioned — harmless here but it trips WindowExec's
    // single-partition warning on every run. ----
    ("x4_shuffle_order",
      (s: SparkSession, dir: String) => {
        val hashed = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            DedupOps.md5TokenHash(col("doc_id").cast("string")).as("perm"))
          .withColumn("corpus", (col("doc_id") * 0).cast("int"))
        SplitOps.rankByPermutationScalable(hashed, Seq("corpus"),
            Seq(col("perm"), col("doc_id")))
          .select(col("doc_id"), col("perm"), col("pos").as("shuffle_pos"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS perm
             |  FROM documents)
             |SELECT doc_id, perm,
             |  row_number() OVER (ORDER BY perm, doc_id) - 1 AS shuffle_pos
             |FROM h ORDER BY doc_id""".stripMargin)),

    // ---- PRODUCTION-hash twin of x4_shuffle_order: permutation key =
    // xxhash64(doc_id) (full signed 64-bit — the shuffle only needs a
    // total order, not a bounded range), same scalable range-partition
    // rank machinery. The long-XXH64 replica replays the exact
    // permutation, so every position is hash-checked. ----
    ("x4_shuffle_order_prod",
      (s: SparkSession, dir: String) => {
        val hashed = Tables.load(s, dir, "documents")
          // cast("long") before hashing: the int-family contract admits
          // INT32, whose 4-byte xxhash64 path differs from the replica
          .select(col("doc_id"), xxhash64(col("doc_id").cast("long")).as("perm"))
          .withColumn("corpus", (col("doc_id") * 0).cast("int"))
        SplitOps.rankByPermutationScalable(hashed, Seq("corpus"),
            Seq(col("perm"), col("doc_id")))
          .select(col("doc_id"), col("perm"), col("pos").as("shuffle_pos"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH k AS (SELECT doc_id FROM documents),
             |${xxhash64LongCtes("k", "doc_id")}
             |SELECT doc_id, xx64 AS perm,
             |  row_number() OVER (ORDER BY xx64, doc_id) - 1 AS shuffle_pos
             |FROM hx ORDER BY doc_id""".stripMargin)),

    // ---- X4: within-doc repetition (Gopher-style duplicate-ngram rule) ----
    ("x4_rep_ngrams",
      (s: SparkSession, dir: String) => {
        TextOps.repeatedNgramStats(Tables.load(s, dir, "documents"), "doc_id", "text", n = 3)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |g0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
             |       FROM t WHERE len(toks) >= 3),
             |g AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM g0),
             |c AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2)
             |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
             |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_rep,
             |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c) AS rep_ratio
             |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X4: streaming sequence packing (cumulative token budget per shard) ----
    ("x4_pack_greedy",
      (s: SparkSession, dir: String) => {
        TextOps.packGreedy(Tables.load(s, dir, "documents"), "doc_id", "text",
            budgetTokens = 2048, shards = 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |       FROM documents),
             |c AS (SELECT doc_id, shard, n_tokens,
             |        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |      FROM t)
             |SELECT doc_id, shard, n_tokens, CAST(cum_before // 2048 AS BIGINT) AS pack_id
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- X4: padding-waste accounting — fixed-size batches pad every
    // member to the batch max, so batching similar lengths together
    // (group_by_length) saves compute; this measures the saving:
    // arrival-order vs length-bucketed batch formation over the same
    // sharded corpus, one exact-integer accounting row per strategy
    // (llm/TextOps.paddingWaste). ----
    ("x4_pad_waste",
      (s: SparkSession, dir: String) => {
        TextOps.paddingWaste(Tables.load(s, dir, "documents"), "doc_id", "text",
            batchSize = 16, bucketWidth = 8, shards = 8)
          .orderBy(col("strategy"))
      },
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |       FROM documents),
             |b AS (SELECT *, n_tokens // 8 AS bucket FROM t),
             |a1 AS (SELECT shard, (row_number() OVER (PARTITION BY shard ORDER BY doc_id) - 1) // 16 AS batch,
             |              n_tokens FROM b),
             |g1 AS (SELECT shard, batch, count(*) AS n, sum(n_tokens) AS s, max(n_tokens) AS m
             |       FROM a1 GROUP BY 1, 2),
             |r1 AS (SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
             |         CAST(sum(s) AS BIGINT) AS useful_tokens, CAST(sum(n * m) AS BIGINT) AS padded_tokens FROM g1),
             |a2 AS (SELECT shard, bucket, (row_number() OVER (PARTITION BY shard, bucket ORDER BY doc_id) - 1) // 16 AS batch,
             |              n_tokens FROM b),
             |g2 AS (SELECT shard, bucket, batch, count(*) AS n, sum(n_tokens) AS s, max(n_tokens) AS m
             |       FROM a2 GROUP BY 1, 2, 3),
             |r2 AS (SELECT 'bucketed' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
             |         CAST(sum(s) AS BIGINT) AS useful_tokens, CAST(sum(n * m) AS BIGINT) AS padded_tokens FROM g2),
             |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
             |SELECT strategy, n_batches, useful_tokens, padded_tokens,
             |  (padded_tokens - useful_tokens) * 1000000 // padded_tokens AS waste_ppm
             |FROM u ORDER BY strategy""".stripMargin)),

    // ---- X4: end-to-end corpus curation in ONE lazy plan — the
    // composition story: exact dedup (canonical keep) → Gopher quality
    // gate → LM-surprisal band (statistics trained on the FULL corpus,
    // the CCNet convention) → sequence packing of the survivors.
    // Catalyst sees the whole pipeline at once, so column pruning and
    // predicate pushdown cross operator boundaries that would be
    // materialization barriers in an imperative pipeline. ----
    ("x4_curation_pipeline",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val canonical = DedupOps.canonicalKeep(docs, "doc_id",
            md5(col("text")), Seq(col("n_chars").desc, col("doc_id")))
          .filter(col("is_canonical")).select("doc_id")
        val quality = TextOps.gopherRules(docs.join(canonical, "doc_id"), "doc_id", "text",
            stopwords = Seq("the", "a"), minWords = 30, maxWords = 90,
            minMeanLen = 4.2, maxMeanLen = 5.0, maxShortFrac = 0.06, minStopHits = 2)
          .filter(col("keep")).select("doc_id")
        val band = TextOps.lmSurprisal(docs, "doc_id", "text")
          .filter(col("avg_surprisal").between(3.39, 3.42)).select("doc_id")
        val kept = docs.join(quality, "doc_id").join(band, "doc_id")
        TextOps.packGreedy(kept, "doc_id", "text", budgetTokens = 2048, shards = 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH canon AS (SELECT doc_id FROM (
             |    SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY n_chars DESC, doc_id) AS rn
             |    FROM documents) WHERE rn = 1),
             |gq AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
             |       FROM documents d JOIN canon USING (doc_id)),
             |g AS (SELECT doc_id FROM gq
             |      WHERE len(toks) BETWEEN 30 AND 90
             |        AND CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) BETWEEN 4.2 AND 5.0
             |        AND CAST(len(list_filter(toks, t -> length(t) <= 2)) AS DOUBLE) / len(toks) <= 0.06
             |        AND len(list_filter(toks, t -> t = 'the' OR t = 'a')) >= 2),
             |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
             |tot AS (SELECT sum(tf) AS total FROM tf),
             |sq AS (SELECT toks.doc_id,
             |         CAST(round(-ln(CAST(tf.tf AS DOUBLE) / tot.total) * 1000000) AS BIGINT) AS sq
             |       FROM toks JOIN tf USING (tok), tot),
             |sb AS (SELECT doc_id FROM (
             |    SELECT doc_id, CAST(sum(sq) AS DOUBLE) / 1000000.0 / count(*) AS avg_s
             |    FROM sq GROUP BY doc_id)
             |  WHERE avg_s BETWEEN 3.39 AND 3.42),
             |kept AS (SELECT d.doc_id, d.text FROM documents d
             |         JOIN g USING (doc_id) JOIN sb USING (doc_id)),
             |t AS (SELECT doc_id, doc_id % 8 AS shard,
             |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM kept),
             |c AS (SELECT doc_id, shard, n_tokens,
             |        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |      FROM t)
             |SELECT doc_id, shard, n_tokens, CAST(cum_before // 2048 AS BIGINT) AS pack_id
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- X4: curation pipeline v2 — the round-5 operators composed
    // in ONE lazy plan: exact-dedup canonical keep → model-based
    // quality gate (hashed-ngram classifier) → Bloom decontamination
    // against the eval split → sequence packing. Catalyst plans all
    // four stages together (shared scans, pruned columns); the oracle
    // replays every stage including the Bloom bitmap. ----
    ("x4_curation_pipeline_v2",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val train = docs.filter(col("doc_id") % 20 =!= 0)
        val eval = docs.filter(col("doc_id") % 20 === 0)
        val contaminated = DedupOps.bloomDecontaminate(train, eval,
            w = 5, mBits = 1 << 20, k = 3,
            probeHash = (sh, i) =>
              DedupOps.md5TokenHash(concat_ws(":", sh, i.cast("string"))))
          .filter(col("flagged")).select("doc_id")
        val canonical = DedupOps.canonicalKeep(train, "doc_id",
            md5(col("text")), Seq(col("n_chars").desc, col("doc_id")))
          .filter(col("is_canonical")).select("doc_id")
        val quality = TextOps.classifierScore(train, "doc_id", "text",
            weights = TextOps.pseudoWeights(s, 4096), nBuckets = 4096,
            tokenHash = DedupOps.md5TokenHash)
          .filter(col("keep")).select("doc_id")
        val kept = train.join(canonical, "doc_id").join(quality, "doc_id")
          .join(contaminated, Seq("doc_id"), "left_anti")
        TextOps.packGreedy(kept, "doc_id", "text", budgetTokens = 2048, shards = 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tr AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
             |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS sh FROM s0),
             |bits AS (SELECT DISTINCT
             |    CAST(('0x' || substr(md5(sh.sh || ':' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 AS pos
             |  FROM sh, range(3) r(i) WHERE doc_id % 20 = 0),
             |tp AS (SELECT doc_id, sh.sh,
             |    CAST(('0x' || substr(md5(sh.sh || ':' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 AS pos
             |  FROM sh, range(3) r(i) WHERE doc_id % 20 <> 0),
             |pr AS (SELECT tp.doc_id, tp.sh,
             |    CAST(count(*) AS BIGINT) AS n_probe, CAST(count(b.pos) AS BIGINT) AS n_set
             |  FROM tp LEFT JOIN bits b ON tp.pos = b.pos GROUP BY tp.doc_id, tp.sh),
             |flg AS (SELECT doc_id FROM pr GROUP BY doc_id
             |        HAVING sum(CASE WHEN n_set = n_probe THEN 1 ELSE 0 END) > 0),
             |canon AS (SELECT doc_id FROM (
             |    SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY n_chars DESC, doc_id) AS rn
             |    FROM tr) WHERE rn = 1),
             |f0 AS (SELECT doc_id, list_concat(toks,
             |         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS feats
             |       FROM t WHERE doc_id % 20 <> 0),
             |f AS (SELECT doc_id, unnest(feats) AS feat FROM f0),
             |bk AS (SELECT doc_id,
             |        CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT) % 4096 AS bucket FROM f),
             |wt AS (SELECT CAST(r.i AS BIGINT) AS bucket,
             |        CAST(('0x' || substr(md5('w:' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000 AS w
             |      FROM range(4096) r(i)),
             |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
             |        CAST(sum(wt.w) AS BIGINT) AS sum_w
             |      FROM bk JOIN wt USING (bucket) GROUP BY doc_id),
             |cls AS (SELECT doc_id FROM ag
             |        WHERE CAST(CASE WHEN sum_w < 0 THEN -((-sum_w * 1000) // n_feat)
             |                        ELSE (sum_w * 1000) // n_feat END AS BIGINT) > 0),
             |kept AS (SELECT d.doc_id, d.text FROM tr d
             |         JOIN canon USING (doc_id) JOIN cls USING (doc_id)
             |         WHERE d.doc_id NOT IN (SELECT doc_id FROM flg)),
             |pt AS (SELECT doc_id, doc_id % 8 AS shard,
             |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM kept),
             |pc AS (SELECT doc_id, shard, n_tokens,
             |        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |      FROM pt)
             |SELECT doc_id, shard, n_tokens, CAST(cum_before // 2048 AS BIGINT) AS pack_id
             |FROM pc ORDER BY doc_id""".stripMargin)),

    // ---- W/X4: temperature-scaled mixture weights — the
    // multilingual-sampling / DoReMi re-balancing rule p_i ∝ n_i^α
    // (α=0.5 here): boosts tail languages without drowning the head;
    // shares feed sampleToMixture's fractions directly. One map-side-
    // combined count over the corpus, all float work on the
    // |groups|-row table (dfw/TransformOps.mixtureWeightsTemperature).
    ("w_mixture_temperature",
      (s: SparkSession, dir: String) => {
        TransformOps.mixtureWeightsTemperature(
            Tables.load(s, dir, "documents"), "lang", alpha = 0.5)
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
             |t AS (SELECT CAST(sum(n) AS DOUBLE) AS t, sum(pow(CAST(n AS DOUBLE), 0.5)) AS ta FROM c)
             |SELECT lang, n,
             |  round(CAST(n AS DOUBLE) / t.t, 6) AS share_raw,
             |  round(pow(CAST(n AS DOUBLE), 0.5) / t.ta, 6) AS share_temp,
             |  round(pow(CAST(n AS DOUBLE), 0.5) / t.ta / (CAST(n AS DOUBLE) / t.t), 6) AS boost
             |FROM c, t ORDER BY lang""".stripMargin)),

    // ---- W: epoch schedule at a token budget — the data-constrained
    // follow-on to w_mixture_temperature: with per-source token counts
    // and a temperature-α mixture, epochs_i = budget·p_i/n_i says how
    // many PASSES each source makes (>1 = repeated data, <1 =
    // subsampled). One exact integer token-sum over the corpus, float
    // work on the |sources|-row table (dfw/TransformOps.epochSchedule). ----
    ("w_epoch_schedule",
      (s: SparkSession, dir: String) => {
        TransformOps.epochSchedule(Tables.load(s, dir, "documents"), "source",
            tokens = size(split(col("text"), " ")), alpha = 0.3,
            budgetTokens = 10000000L)
          .orderBy(col("source"))
      },
      Some("""WITH c AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |          FROM documents GROUP BY source),
             |t AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS ta FROM c)
             |SELECT source, n_tokens,
             |  round(pow(CAST(n_tokens AS DOUBLE), 0.3) / t.ta, 6) AS share_temp,
             |  round(CAST(10000000 AS DOUBLE) * (pow(CAST(n_tokens AS DOUBLE), 0.3) / t.ta)
             |        / CAST(n_tokens AS DOUBLE), 6) AS epochs
             |FROM c, t ORDER BY source""".stripMargin)),

    // ---- W: MATERIALIZE the mixture — the epoch schedule turned into
    // the actual training corpus: floor(epochs) full copies per doc
    // plus a deterministically-hashed partial epoch, so repetition
    // (epochs>1) and subsampling (epochs<1) happen in ONE pass,
    // reproducible on any engine/partitioning. Explode factor bounded
    // by the schedule; epochs table broadcast
    // (dfw/TransformOps.materializeEpochs). ----
    ("w_mixture_materialized",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val sched = TransformOps.epochSchedule(docs, "source",
          tokens = size(split(col("text"), " ")), alpha = 0.3,
          budgetTokens = 1000000L)
        TransformOps.materializeEpochs(
            docs.select("doc_id", "source"), "doc_id", "source", sched,
            hash = DedupOps.md5TokenHash)
          .orderBy(col("doc_id"), col("epoch_no"))
      },
      Some("""WITH c AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |          FROM documents GROUP BY source),
             |t AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS ta FROM c),
             |q AS (SELECT source,
             |        round(CAST(1000000 AS DOUBLE) * (pow(CAST(n_tokens AS DOUBLE), 0.3) / t.ta)
             |              / CAST(n_tokens AS DOUBLE), 6) AS epochs
             |      FROM c, t),
             |d AS (SELECT doc_id, documents.source, epochs FROM documents JOIN q USING (source)),
             |x AS (SELECT doc_id, source, epochs,
             |        unnest(generate_series(0, CAST(floor(epochs) AS BIGINT))) AS epoch_no
             |      FROM d)
             |SELECT source, doc_id, CAST(epoch_no AS BIGINT) AS epoch_no
             |FROM x
             |WHERE epoch_no < floor(epochs)
             |   OR CAST(('0x' || substr(md5(doc_id || ':' || epoch_no), 1, 15)) AS BIGINT) % 1000000
             |      < CAST(round((epochs - floor(epochs)) * 1000000) AS BIGINT)
             |ORDER BY doc_id, epoch_no""".stripMargin)),

    // ---- W: training batches end to end — temperature schedule →
    // mixture materialization → sequence packing, ONE lazy plan (the
    // composition story: Catalyst sees schedule, replication, and
    // packing together, so pruning/pushdown cross what would be
    // materialization barriers in an imperative pipeline). Instances
    // key as doc_id·64 + epoch_no (epochs ≲ 25 at this budget, far
    // under the encoding bound), so repeated copies of a document
    // spread across shards instead of packing adjacently. ----
    ("w_training_batches",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val sched = TransformOps.epochSchedule(docs, "source",
          tokens = size(split(col("text"), " ")), alpha = 0.3,
          budgetTokens = 500000L)
        val mix = TransformOps.materializeEpochs(
            docs.select("doc_id", "source", "text"), "doc_id", "source", sched,
            hash = DedupOps.md5TokenHash)
          .withColumn("inst_id", col("doc_id") * 64 + col("epoch_no"))
        TextOps.packGreedy(mix, "inst_id", "text", budgetTokens = 2048, shards = 8)
          .withColumnRenamed("doc_id", "inst_id")
          .orderBy(col("inst_id"))
      },
      Some("""WITH c AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |          FROM documents GROUP BY source),
             |t AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS ta FROM c),
             |q AS (SELECT source,
             |        round(CAST(500000 AS DOUBLE) * (pow(CAST(n_tokens AS DOUBLE), 0.3) / t.ta)
             |              / CAST(n_tokens AS DOUBLE), 6) AS epochs
             |      FROM c, t),
             |d AS (SELECT doc_id, text, epochs FROM documents JOIN q USING (source)),
             |x AS (SELECT doc_id, text, epochs,
             |        unnest(generate_series(0, CAST(floor(epochs) AS BIGINT))) AS epoch_no
             |      FROM d),
             |m AS (SELECT doc_id, text, epoch_no FROM x
             |      WHERE epoch_no < floor(epochs)
             |         OR CAST(('0x' || substr(md5(doc_id || ':' || epoch_no), 1, 15)) AS BIGINT) % 1000000
             |            < CAST(round((epochs - floor(epochs)) * 1000000) AS BIGINT)),
             |i AS (SELECT doc_id * 64 + epoch_no AS inst_id,
             |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM m),
             |s AS (SELECT inst_id, inst_id % 8 AS shard, n_tokens FROM i),
             |cu AS (SELECT inst_id, shard, n_tokens,
             |        CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY inst_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |      FROM s)
             |SELECT inst_id, shard, n_tokens, CAST(cum_before // 2048 AS BIGINT) AS pack_id
             |FROM cu ORDER BY inst_id""".stripMargin)),

    // ---- X2: transitive near-dup clusters (connected components) ----
    ("x2_dup_clusters",
      (s: SparkSession, dir: String) => {
        val sh = DedupOps.wordShingles(Tables.load(s, dir, "documents"), "doc_id", "text", 5)
        // uncapped: the DuckDB oracle has no document-frequency cap
        DedupOps.clusterNearDups(
            DedupOps.jaccardPairs(sh, 1, 2, maxDocFreq = Int.MaxValue))
          .orderBy(col("doc_id"))
      },
      Some(dupClustersFullOracleSql)),

    // ---- X2: INCREMENTAL clustering — the daily-ingest path: docs
    // with doc_id%7=0 arrive as the delta against a corpus already
    // clustered without them. Delta pairs come from the persisted
    // MinHash gate (probe-sized, zero corpus re-pairing), prior labels
    // fold in as star edges, and the labels must equal the FULL
    // recompute — the oracle below is byte-identical to
    // x2_dup_clusters' recursive-CTE full-recompute oracle
    // (llm/DedupOps.clusterNearDupsIncremental). ----
    ("x2_dup_clusters_incremental",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val oldSh = DedupOps.wordShingles(
          docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", 5)
        val oldLabels = DedupOps.clusterNearDups(
          DedupOps.jaccardPairs(oldSh, 1, 2, maxDocFreq = Int.MaxValue))
        val (bandedGate, shSets) = DedupOps.loadOrBuildMinHashGate(docs, "doc_id", "text",
          shingleW = 5, numHashes = 64, bands = 16, minhashIndexPath(dir))
        val deltaPairs = DedupOps.minHashGatePrepared(
            docs.filter(col("doc_id") % 7 === 0), bandedGate, shSets,
            "doc_id", "text", shingleW = 5, numHashes = 64, bands = 16, num = 1, den = 2)
          .select(least(col("in_id"), col("corpus_id")).as("doc1"),
            greatest(col("in_id"), col("corpus_id")).as("doc2"))
          .distinct()
        DedupOps.clusterNearDupsIncremental(oldLabels, deltaPairs)
          .orderBy(col("doc_id"))
      },
      Some(dupClustersFullOracleSql)),

    // ---- X2: INCREMENTAL clustering, PRODUCTION shape — what the
    // daily ingest actually runs: yesterday's labels are a STORED
    // table (the incremental path's premise — never recompute the old
    // corpus), the MinHash gate is the persisted index, and the timed
    // region is gate-probe → delta pairs → star fold-in only. The
    // labels artifact is built out-of-band (prepareIndexes) under the
    // IndexStore sidecar protocol, so a stale store rebuilds rather
    // than folds into wrong state. Hash-checked against the SAME
    // full-recompute recursive-CTE oracle as the in-band anchor
    // above: stored-state + O(delta) fold-in must equal re-clustering
    // the whole corpus from scratch. ----
    ("x2_dup_clusters_incremental_prod",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val oldLabels = oldNearDupLabels(s, dir)
        val (bandedGate, shSets) = DedupOps.loadOrBuildMinHashGate(docs, "doc_id", "text",
          shingleW = 5, numHashes = 64, bands = 16, minhashIndexPath(dir))
        val deltaPairs = DedupOps.minHashGatePrepared(
            docs.filter(col("doc_id") % 7 === 0), bandedGate, shSets,
            "doc_id", "text", shingleW = 5, numHashes = 64, bands = 16, num = 1, den = 2)
          .select(least(col("in_id"), col("corpus_id")).as("doc1"),
            greatest(col("in_id"), col("corpus_id")).as("doc2"))
          .distinct()
        DedupOps.clusterNearDupsIncremental(oldLabels, deltaPairs)
          .orderBy(col("doc_id"))
      },
      Some(dupClustersFullOracleSql)),

    // ---- X2: END-TO-END fuzzy-dedup pipeline (RefinedWeb/FineWeb
    // flow) — near-dup pairs → transitive clusters → keep the best
    // document per cluster (longest, id tiebreak), singletons their
    // own cluster. Composes jaccardPairs + clusterNearDups +
    // canonicalKeep in one plan; the oracle replays pair derivation,
    // the recursive components walk, the singleton fallback, and the
    // per-cluster keep window. Pairs are the uncapped exact-Jaccard
    // anchor (like x2_dup_clusters); production swaps in minHashLsh
    // pairs and the capped index unchanged. ----
    ("x2_fuzzy_pipeline",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val clusters = DedupOps.clusterNearDups(
          DedupOps.jaccardPairs(
            DedupOps.wordShingles(docs, "doc_id", "text", 5), 1, 2,
            maxDocFreq = Int.MaxValue))
        val keyed = docs.join(clusters, Seq("doc_id"), "left")
          .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
        DedupOps.canonicalKeep(keyed, "doc_id", col("ckey"),
            Seq(col("n_chars").desc, col("doc_id")))
          .select(col("doc_id"), col("ckey").as("cluster_key"),
            col("canonical_id"), col("group_n"),
            col("is_canonical").cast("long").as("is_canonical"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
             |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
             |p0 AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
             |       FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |p AS (SELECT doc1, doc2 FROM p0
             |      JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
             |      WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)),
             |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
             |walk(id, label) AS (
             |  SELECT a, a FROM e
             |  UNION
             |  SELECT e.a, walk.label FROM e JOIN walk ON e.b = walk.id),
             |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id),
             |d AS (SELECT d.doc_id, d.n_chars, coalesce(cl.cluster_id, d.doc_id) AS ckey
             |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
             |r AS (SELECT doc_id, ckey,
             |    row_number() OVER w AS rn,
             |    count(*) OVER (PARTITION BY ckey) AS group_n,
             |    first_value(doc_id) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canonical_id
             |  FROM d WINDOW w AS (PARTITION BY ckey ORDER BY n_chars DESC, doc_id))
             |SELECT doc_id, ckey AS cluster_key, canonical_id, CAST(group_n AS BIGINT) AS group_n,
             |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- X2/W: near-dup-AWARE train/val/test split — membership
    // hashes the CLUSTER key (near-dup component, singletons their own
    // key), not the document id, so near-duplicates co-travel into one
    // split by construction: the random-split failure mode where a
    // test document's near-copy sits in train (silent benchmark
    // contamination) is impossible. Pure composition: clusterNearDups
    // components feed SplitOps.hashSplit — no new operator, the same
    // deterministic md5 membership, leak-safety as a keying choice.
    // The oracle replays pairs → components → cluster-key hash →
    // boundaries end to end. ----
    ("x2_dedup_aware_split",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val clusters = DedupOps.clusterNearDups(
          DedupOps.jaccardPairs(
            DedupOps.wordShingles(docs, "doc_id", "text", 5), 1, 2,
            maxDocFreq = Int.MaxValue))
        val keyed = docs.join(clusters, Seq("doc_id"), "left")
          .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
        SplitOps.hashSplit(keyed, col("ckey"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
            k => DedupOps.md5TokenHash(k.cast("string")))
          .select(col("doc_id"), col("ckey").as("cluster_key"),
            col("hash_val"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(dedupAwareSplitOracleSql)),

    // ---- X2/W: the leak-safe split on its SCALE path — THE X2 query
    // a training-data user runs over the whole corpus before every
    // training run, so it cannot ride the quadratic exact-Jaccard
    // anchor: cluster keys come from the PERSISTED MinHash-LSH index
    // (banded pairs, sub-quadratic, index-once/query-many), then the
    // same pure-codegen hashSplit. Hash-checked against the SAME
    // exact-pair oracle as x2_dedup_aware_split: LSH at 64 hashes /
    // 16 bands covers the exact pair set on this corpus (spec-pinned
    // at sf0.01, Probe-measured recall 1.0000 at sf0.1 — BASELINE.md),
    // so cluster keys, hash values, and split verdicts are identical. ----
    ("x2_dedup_aware_split_scalable",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val (banded, sh) = DedupOps.loadOrBuildMinHashIndex(docs, "doc_id", "text",
          shingleW = 5, numHashes = 64, bands = 16, minhashIndexPath(dir))
        val clusters = DedupOps.clusterNearDups(
          DedupOps.minHashLshPairsIndexed(banded, sh, num = 1, den = 2)
            .select(col("doc1"), col("doc2")))
        val keyed = docs.join(clusters, Seq("doc_id"), "left")
          .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
        SplitOps.hashSplit(keyed, col("ckey"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
            k => DedupOps.md5TokenHash(k.cast("string")))
          .select(col("doc_id"), col("ckey").as("cluster_key"),
            col("hash_val"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(dedupAwareSplitOracleSql)),

    // ---- X2: the fuzzy-dedup pipeline on its SCALE path — MinHash-LSH
    // banded pairs (sub-quadratic) replace the exact-Jaccard anchor in
    // front of the same clusters → keep stages. Hash-checked against
    // the SAME exact-pair oracle as x2_fuzzy_pipeline: LSH at 64
    // hashes / 16 bands covers the exact pair set on this corpus
    // (spec-pinned at sf0.01, Probe-measured recall 1.0000 at sf0.1 —
    // BASELINE.md), so clusters and keep verdicts are identical. ----
    ("x2_fuzzy_pipeline_scalable",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val clusters = DedupOps.clusterNearDups(
          DedupOps.minHashLshPairs(docs, "doc_id", "text",
              shingleW = 5, numHashes = 64, bands = 16, num = 1, den = 2)
            .select(col("doc1"), col("doc2")))
        val keyed = docs.join(clusters, Seq("doc_id"), "left")
          .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
        DedupOps.canonicalKeep(keyed, "doc_id", col("ckey"),
            Seq(col("n_chars").desc, col("doc_id")))
          .select(col("doc_id"), col("ckey").as("cluster_key"),
            col("canonical_id"), col("group_n"),
            col("is_canonical").cast("long").as("is_canonical"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
             |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
             |p0 AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
             |       FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |p AS (SELECT doc1, doc2 FROM p0
             |      JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
             |      WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)),
             |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
             |walk(id, label) AS (
             |  SELECT a, a FROM e
             |  UNION
             |  SELECT e.a, walk.label FROM e JOIN walk ON e.b = walk.id),
             |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id),
             |d AS (SELECT d.doc_id, d.n_chars, coalesce(cl.cluster_id, d.doc_id) AS ckey
             |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
             |r AS (SELECT doc_id, ckey,
             |    row_number() OVER w AS rn,
             |    count(*) OVER (PARTITION BY ckey) AS group_n,
             |    first_value(doc_id) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canonical_id
             |  FROM d WINDOW w AS (PARTITION BY ckey ORDER BY n_chars DESC, doc_id))
             |SELECT doc_id, ckey AS cluster_key, canonical_id, CAST(group_n AS BIGINT) AS group_n,
             |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- X2: the fuzzy-dedup pipeline off the STORED index — the
    // pair stage reads the persisted MinHash artifacts (shingles +
    // banded buckets), so the whole RefinedWeb flow (pairs → clusters
    // → keep-longest) runs without re-shingling the corpus. Same
    // exact-pair oracle as both siblings: identical clusters and keep
    // verdicts are part of the check. ----
    ("x2_fuzzy_pipeline_indexed",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val (banded, sh) = DedupOps.loadOrBuildMinHashIndex(docs, "doc_id", "text",
          shingleW = 5, numHashes = 64, bands = 16, minhashIndexPath(dir))
        val clusters = DedupOps.clusterNearDups(
          DedupOps.minHashLshPairsIndexed(banded, sh, num = 1, den = 2)
            .select(col("doc1"), col("doc2")))
        val keyed = docs.join(clusters, Seq("doc_id"), "left")
          .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
        DedupOps.canonicalKeep(keyed, "doc_id", col("ckey"),
            Seq(col("n_chars").desc, col("doc_id")))
          .select(col("doc_id"), col("ckey").as("cluster_key"),
            col("canonical_id"), col("group_n"),
            col("is_canonical").cast("long").as("is_canonical"))
          .orderBy(col("doc_id"))
      },
      Some(fuzzyPipelineOracleSql)),

    // ---- X2: MinHash + LSH banding (scale path; LSH recall — rows-only check) ----
    // Oracle: the full exact-Jaccard pair set. LSH is approximate in
    // general, but at 16 bands × 4 rows a J>=0.5 pair escapes every
    // band with p <= (1 - 0.5^4)^16 ≈ 0.36 — and on THIS corpus the
    // candidate set verifiably covers all 25 (sf0.01) / 256 (sf0.1)
    // qualifying pairs (probed both scales), and xxhash64 is fixed, so
    // the output is deterministic and value-exact vs the exact oracle.
    ("x2_minhash_lsh",
      (s: SparkSession, dir: String) => {
        DedupOps.minHashLshPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", shingleW = 5, numHashes = 64, bands = 16, num = 1, den = 2)
          .orderBy(col("doc1"), col("doc2"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
             |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
             |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
             |  CAST(z1.n_sh + z2.n_sh - inter AS BIGINT) AS uni
             |FROM p JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
             |WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)
             |ORDER BY doc1, doc2""".stripMargin)),

    // ---- X2: MinHash-LSH pairs against the PERSISTED index — the
    // text-side index-once/query-many shape: shingling + 64 minhash
    // passes are the corpus-sized cost and live in the index build
    // (IndexStore lifecycle, same as IVF lists / PQ codebooks); the
    // per-call work is the band-bucket join + exact-Jaccard verify.
    // Same exact-pair oracle as x2_minhash_lsh (banding at r=4 covers
    // the exact pair set — measured recall 1.0, BASELINE.md). ----
    ("x2_minhash_lsh_indexed",
      (s: SparkSession, dir: String) => {
        val (banded, sh) = DedupOps.loadOrBuildMinHashIndex(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          shingleW = 5, numHashes = 64, bands = 16, minhashIndexPath(dir))
        DedupOps.minHashLshPairsIndexed(banded, sh, num = 1, den = 2)
          .orderBy(col("doc1"), col("doc2"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
             |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
             |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
             |  CAST(z1.n_sh + z2.n_sh - inter AS BIGINT) AS uni
             |FROM p JOIN z z1 ON z1.doc_id = doc1 JOIN z z2 ON z2.doc_id = doc2
             |WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)
             |ORDER BY doc1, doc2""".stripMargin)),

    // ---- X2: SimHash fingerprint + hamming-banded pairs ----
    // The engine-neutral md5-derived token hash (DedupOps.md5TokenHash)
    // makes the fingerprints — and hence the banded pair join —
    // value-exact against a pure-SQL oracle that recomputes SimHash
    // from scratch. The default xxhash64 token hash runs the same
    // aggregation (DedupOpsSpec pins it against an explode reference).
    ("x2_simhash_pairs",
      (s: SparkSession, dir: String) => {
        val fps = DedupOps.simHash(Tables.load(s, dir, "documents"), "doc_id", "text",
          DedupOps.md5TokenHash)
        DedupOps.simHashPairs(fps, maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy(col("doc1"), col("doc2"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
             |h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM toks),
             |bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
             |         FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS j) GROUP BY doc_id, j),
             |fp AS (SELECT doc_id,
             |         CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fp
             |       FROM bits GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             |        CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
             |      FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
             |SELECT doc1, doc2, hamming FROM p WHERE hamming <= 3
             |ORDER BY doc1, doc2""".stripMargin)),

    // ---- X2: cross-source content overlap via KMV (theta-family)
    // bottom-k sketches — one mergeable 8 KiB summary per source
    // built in a single map-side-combined pass, pairwise
    // union/intersection estimated from retained samples (HLL can't
    // intersect). Exact pairwise-distinct anchor + 6-sigma bound
    // verdicts; SketchOps.sourceOverlapCertified scaladoc has the
    // estimator math. ----
    ("x2_kmv_overlap",
      (s: SparkSession, dir: String) => {
        SketchOps.sourceOverlapCertified(Tables.load(s, dir, "documents"),
          sources = Seq("src0", "src1", "src2", "src3"), n = 3, k = 1024)
      },
      Some("""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents
             |           WHERE source IN ('src0', 'src1', 'src2', 'src3')),
             |sp0 AS (SELECT source,
             |          unnest(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
             |        FROM t WHERE len(toks) >= 3),
             |sp AS (SELECT DISTINCT source, sh FROM sp0),
             |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY source),
             |pr AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_inter
             |       FROM sp a JOIN sp b ON a.sh = b.sh AND a.source < b.source
             |       GROUP BY 1, 2)
             |SELECT pr.src_a, pr.src_b, ca.n AS n_a, cb.n AS n_b, pr.n_inter,
             |       ca.n + cb.n - pr.n_inter AS n_union, 1 AS union_ok, 1 AS inter_ok
             |FROM pr JOIN c ca ON ca.source = pr.src_a JOIN c cb ON cb.source = pr.src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // ---- x2_kmv_overlap answered from the PERSISTED sketch index
    // (IndexStore lifecycle: sidecar-signed, drift-rebuilt, O(delta)
    // append via KmvMergeAgg) — the corpus scan happens once at index
    // build; every later overlap question reads |sources| × ~8 KiB.
    // Same certified output, same oracle. ----
    ("x2_kmv_overlap_indexed",
      (s: SparkSession, dir: String) => {
        SketchOps.sourceOverlapCertifiedIndexed(Tables.load(s, dir, "documents"),
          sources = Seq("src0", "src1", "src2", "src3"), n = 3, k = 1024,
          indexPath = kmvIndexPath(dir))
      },
      Some("""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents
             |           WHERE source IN ('src0', 'src1', 'src2', 'src3')),
             |sp0 AS (SELECT source,
             |          unnest(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS sh
             |        FROM t WHERE len(toks) >= 3),
             |sp AS (SELECT DISTINCT source, sh FROM sp0),
             |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY source),
             |pr AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_inter
             |       FROM sp a JOIN sp b ON a.sh = b.sh AND a.source < b.source
             |       GROUP BY 1, 2)
             |SELECT pr.src_a, pr.src_b, ca.n AS n_a, cb.n AS n_b, pr.n_inter,
             |       ca.n + cb.n - pr.n_inter AS n_union, 1 AS union_ok, 1 AS inter_ok
             |FROM pr JOIN c ca ON ca.source = pr.src_a JOIN c cb ON cb.source = pr.src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // ---- pre-aggregated HLL rollup: per-(source, lang) DataSketches
    // HLL sketches (Spark built-ins), rolled up per source by sketch
    // UNION — distinct counts at any coarser grain without re-scanning
    // raw data. Exact countDistinct anchor + bound verdict. ----
    ("q_hll_rollup",
      (s: SparkSession, dir: String) => {
        SketchOps.hllRollupCertified(Tables.load(s, dir, "documents"), lgK = 14)
      },
      Some("""SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS n_texts, 1 AS within_bound
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- X2: embedding-cosine near-dup pairs (quantized, oracle-exact) ----
    ("x2_embed_neardup",
      (s: SparkSession, dir: String) => {
        SimilarityOps.cosineNearDupPairs(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", num = 9, den = 10)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |        CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        a.n2 AS na, b.n2 AS nb
             |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
             |SELECT id_a, id_b, CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine
             |FROM p WHERE dot >= 0 AND dot * dot * 100 >= na * nb * 81
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- X2: embedding near-dup, IVF-bucketed (scale path). Pair
    // cost is ~nProbe²/K of N², so K=64/nProbe=4 runs at ~N²/4 (Probe
    // measures 117/141 pair recall at sf0.1 on these near-orthogonal
    // embeddings; clustered real-world embeddings bucket far better,
    // and at production K≈4096 the same nProbe costs ~N²/256). The
    // _full twin pins the operator against a centroid-independent
    // exact oracle; this low-probe row is ALSO oracle-exact — see the
    // SQL below. ----
    ("x2_embed_neardup_ivf",
      (s: SparkSession, dir: String) => {
        SimilarityOps.cosineNearDupPairsIvf(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", num = 9, den = 20,
            centroids = embCentroids(s, dir, 64), nProbe = 4)
          .orderBy(col("id_a"), col("id_b"))
      },
      // ORACLE-EXACT: replays bucket assignment (top-4 centroids from
      // the persisted c64 index), bucket-co-location pairing, the
      // all-integer threshold test and the cross-bucket dedup against
      // the same parquet index table the engine loaded.
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C64__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |a AS (SELECT vec_id, q, n2, centroid_id
             |      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |      WHERE rn <= 4),
             |p AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b,
             |        CAST(list_sum(list_transform(list_zip(x.q, y.q), t -> t[1] * t[2])) AS BIGINT) AS dot,
             |        x.n2 AS na, y.n2 AS nb
             |      FROM a x JOIN a y USING (centroid_id) WHERE x.vec_id < y.vec_id)
             |SELECT id_a, id_b, CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine
             |FROM p WHERE dot >= 0 AND dot * dot * 400 >= na * nb * 81
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- X2: IVF near-dup at full probe — every pair co-locates, so
    // the SAME bucketed plan degenerates to the all-pairs baseline and
    // is value-exact against the uncapped oracle (threshold 0.45: the
    // testdata embeddings are near-orthogonal and have no pairs at the
    // 0.9 near-dup threshold, which would make this check vacuous) ----
    ("x2_embed_neardup_ivf_full",
      (s: SparkSession, dir: String) => {
        // K=16 measured FASTER than K=8 here despite 2x the raw pairs:
        // at full probe every bucket holds all N vectors, so K is also
        // the task parallelism — fewer, fatter buckets straggle
        SimilarityOps.cosineNearDupPairsIvf(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", num = 9, den = 20,
            centroids = embCentroids(s, dir, 16), nProbe = 16)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |        CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        a.n2 AS na, b.n2 AS nb
             |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
             |SELECT id_a, id_b, CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine
             |FROM p WHERE dot >= 0 AND dot * dot * 400 >= na * nb * 81
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- X2: SemDeDup (Abbas et al. 2023) — cluster-scoped semantic
    // dedup: one nearest centroid per vector (persisted c64 index),
    // within-cluster duplicate pairs at cosine >= 0.45, keep the item
    // LEAST similar to its centroid (id tiebreak). ORACLE-EXACT: the
    // SQL replays assignment (top-1 centroid from the same parquet
    // index), the all-integer duplicate test, and the all-integer
    // precedence comparator (HUGEINT there, decimal(38,0) here) —
    // the kept/dropped verdict is never a float-ordering coin flip. ----
    ("x2_semdedup",
      (s: SparkSession, dir: String) => {
        SimilarityOps.semDedup(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", num = 9, den = 20,
            centroids = embCentroids(s, dir, 64))
          .orderBy(col("vec_id"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C64__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS BIGINT) AS cd,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |a AS (SELECT vec_id, q, n2, cd, centroid_id
             |      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |      WHERE rn = 1),
             |e AS (SELECT x.vec_id, x.cd AS xcd, y.cd AS ycd, x.n2 AS xn2, y.n2 AS yn2, y.vec_id AS yid,
             |        CAST(list_sum(list_transform(list_zip(x.q, y.q), t -> t[1] * t[2])) AS BIGINT) AS dot
             |      FROM a x JOIN a y USING (centroid_id) WHERE x.vec_id <> y.vec_id),
             |dropped AS (SELECT DISTINCT vec_id FROM e
             |  WHERE xn2 > 0 AND yn2 > 0 AND dot >= 0 AND dot * dot * 400 >= xn2 * yn2 * 81
             |    AND ((ycd < 0 AND xcd >= 0)
             |      OR (xcd >= 0 AND ycd >= 0 AND CAST(ycd AS HUGEINT) * ycd * xn2 < CAST(xcd AS HUGEINT) * xcd * yn2)
             |      OR (xcd < 0 AND ycd < 0 AND CAST(ycd AS HUGEINT) * ycd * xn2 > CAST(xcd AS HUGEINT) * xcd * yn2)
             |      OR ((xcd < 0) = (ycd < 0) AND CAST(ycd AS HUGEINT) * ycd * xn2 = CAST(xcd AS HUGEINT) * xcd * yn2
             |          AND yid < vec_id)))
             |SELECT a.vec_id, a.centroid_id, d.vec_id IS NULL AS kept
             |FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
             |ORDER BY a.vec_id""".stripMargin)),

    // ---- X2: SemDeDup against the PERSISTED inverted lists — the
    // cluster assignment SemDeDup starts from IS the keep=1 list
    // table, so the one stored artifact serves top-k search, the
    // ingest gate, AND semantic dedup (index once, three operators).
    // Only the centroid-similarity keep-order dot is computed per
    // call. Output identical to x2_semdedup; the oracle reads the
    // persisted lists parquet for the assignment. ----
    ("x2_semdedup_indexed",
      (s: SparkSession, dir: String) => {
        SimilarityOps.semDedupIndexed(embLists(s, dir, 64),
            "vec_id", num = 9, den = 20,
            centroids = embCentroids(s, dir, 64))
          .orderBy(col("vec_id"))
      },
      Some("""WITH c AS (SELECT centroid_id, "__centq" AS cq
             |      FROM read_parquet('__GRAFT_IVF_C64__/*.parquet')),
             |a AS (SELECT l.vec_id, l."__qv" AS q, l."__n2" AS n2,
             |        CAST(list_sum(list_transform(list_zip(l."__qv", c.cq), x -> x[1] * x[2])) AS BIGINT) AS cd,
             |        l.centroid_id
             |      FROM read_parquet('__GRAFT_IVF_B64__/*.parquet') l
             |      JOIN c ON l.centroid_id = c.centroid_id),
             |e AS (SELECT x.vec_id, x.cd AS xcd, y.cd AS ycd, x.n2 AS xn2, y.n2 AS yn2, y.vec_id AS yid,
             |        CAST(list_sum(list_transform(list_zip(x.q, y.q), t -> t[1] * t[2])) AS BIGINT) AS dot
             |      FROM a x JOIN a y USING (centroid_id) WHERE x.vec_id <> y.vec_id),
             |dropped AS (SELECT DISTINCT vec_id FROM e
             |  WHERE xn2 > 0 AND yn2 > 0 AND dot >= 0 AND dot * dot * 400 >= xn2 * yn2 * 81
             |    AND ((ycd < 0 AND xcd >= 0)
             |      OR (xcd >= 0 AND ycd >= 0 AND CAST(ycd AS HUGEINT) * ycd * xn2 < CAST(xcd AS HUGEINT) * xcd * yn2)
             |      OR (xcd < 0 AND ycd < 0 AND CAST(ycd AS HUGEINT) * ycd * xn2 > CAST(xcd AS HUGEINT) * xcd * yn2)
             |      OR ((xcd < 0) = (ycd < 0) AND CAST(ycd AS HUGEINT) * ycd * xn2 = CAST(xcd AS HUGEINT) * xcd * yn2
             |          AND yid < vec_id)))
             |SELECT a.vec_id, a.centroid_id, d.vec_id IS NULL AS kept
             |FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
             |ORDER BY a.vec_id""".stripMargin)),

    // ---- X3: deterministic JL sign projection (dimension reduction
    // before bucketed ANN) — engine-neutral md5 coordinate hash, so
    // the all-integer projection is value-exact in DuckDB ----
    ("x3_jl_project",
      (s: SparkSession, dir: String) => {
        SimilarityOps.signProject(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", outDim = 16,
            signHash = (j, k) => pmod(DedupOps.md5TokenHash(
              concat(j.cast("string"), lit(":"), k.cast("string"))), lit(2)))
          .orderBy(col("vec_id"), col("k"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |e AS (SELECT vec_id, q, unnest(range(0, len(q))) AS j FROM v),
             |x AS (SELECT vec_id, j, q[CAST(j AS INT) + 1] AS qv FROM e),
             |d AS (SELECT unnest(range(0, 16)) AS k),
             |sgn AS (SELECT x.vec_id, x.j, d.k, x.qv,
             |    CASE WHEN CAST(('0x' || substr(md5(x.j || ':' || d.k), 1, 15)) AS BIGINT) % 2 = 0
             |         THEN 1 ELSE -1 END AS s
             |  FROM x, d)
             |SELECT vec_id, k, CAST(sum(qv * s) AS BIGINT) AS rp_q
             |FROM sgn GROUP BY vec_id, k ORDER BY vec_id, k""".stripMargin)),

    // ---- X3: exact brute-force top-k cosine (quantized, oracle-exact) ----
    ("x3_knn_cosine",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        a.n2 AS qa, b.n2 AS qb
             |      FROM n a JOIN n b ON a.vec_id % 10 = 0 AND a.vec_id <> b.vec_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CAST(dot AS DOUBLE) / sqrt(CAST(qa * qb AS DOUBLE)) AS cosine FROM p),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: IVF-bucketed approximate NN (scale path). ORACLE-EXACT:
    // the oracle reads the SAME persisted parquet index table the
    // engine loads (__GRAFT_IVF_C16__ → IvfIndex path, resolved by
    // Verify at dump time) and replays assignment→probe→score→rank —
    // the low-probe approximate query is hash-checked end to end, not
    // just its full-probe twin. x3_ann_ivf_full additionally pins the
    // plan against a centroid-independent exact oracle, and
    // SimilarityOpsSpec + tools/Probe check recall. ----
    ("x3_ann_ivf",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.ivfTopK(queries, emb, "vec_id", "embedding",
            k = 5, centroids = embCentroids(s, dir, 16), nProbe = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C16__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |ca AS (SELECT vec_id AS neighbor_id, q AS qb, n2 AS nb, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |       WHERE rn = 1),
             |qa AS (SELECT vec_id AS query_id, q AS qv, n2 AS na, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
             |             FROM sc WHERE vec_id % 10 = 0)
             |       WHERE rn <= 4),
             |p AS (SELECT qa.query_id, ca.neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(qa.qv, ca.qb), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        qa.na, ca.nb
             |      FROM qa JOIN ca USING (centroid_id) WHERE qa.query_id <> ca.neighbor_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine FROM p),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: IVF against PERSISTED inverted lists — the complete
    // index-once/query-many shape: centroids AND the bucketed corpus
    // (FAISS's inverted lists) are stored tables; only the queries are
    // assigned per call, so the per-batch cost no longer scans the
    // corpus (x3_ann_ivf above re-derives the lists every run — kept
    // as the self-contained anchor). The oracle replays probe→score→
    // rank reading BOTH persisted parquet tables, so the whole indexed
    // path is hash-exact, and its output equals x3_ann_ivf's by
    // construction (same assignment rule, persisted vs recomputed). ----
    ("x3_ann_ivf_indexed",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.ivfTopKIndexed(queries, embLists(s, dir, 16), "vec_id", "embedding",
            k = 5, centroids = embCentroids(s, dir, 16), nProbe = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings WHERE vec_id % 10 = 0),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C16__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |qa AS (SELECT vec_id AS query_id, q AS qv, n2 AS na, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |       WHERE rn <= 4),
             |ca AS (SELECT centroid_id, vec_id AS neighbor_id, "__qv" AS qb, "__n2" AS nb
             |       FROM read_parquet('__GRAFT_IVF_B16__/*.parquet')),
             |p AS (SELECT qa.query_id, ca.neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(qa.qv, ca.qb), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        qa.na, ca.nb
             |      FROM qa JOIN ca USING (centroid_id) WHERE qa.query_id <> ca.neighbor_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine FROM p),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: the SCALE form of the indexed IVF query — identical
    // probe→score→rank machinery, but the list count follows the
    // corpus ([[adaptiveNlist]]: ~1000 vectors/list, floor 16) instead
    // of the anchor's fixed 16. At the gate SFs the adaptive count IS
    // 16 (200–2k vectors), so this row shares the anchor's persisted
    // index and stays hash-green under the same oracle pattern; at
    // sf1/sf10 it is the row whose cost stays O(queries) while the
    // fixed-16 anchor's probe sets grow into a quadratic join (the
    // sf10 proof measured the anchor at ~1B candidate pairs / OOM).
    // Verify resolves __GRAFT_IVF_CA__/__GRAFT_IVF_BA__ to the
    // adaptive index's paths at dump time. ----
    ("x3_ann_ivf_indexed_scaled",
      (s: SparkSession, dir: String) => {
        val na = adaptiveNlistFor(s, dir)
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.ivfTopKIndexed(queries, embLists(s, dir, na), "vec_id", "embedding",
            k = 5, centroids = embCentroids(s, dir, na), nProbe = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings WHERE vec_id % 10 = 0),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_CA__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |qa AS (SELECT vec_id AS query_id, q AS qv, n2 AS na, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |       WHERE rn <= 4),
             |ca AS (SELECT centroid_id, vec_id AS neighbor_id, "__qv" AS qb, "__n2" AS nb
             |       FROM read_parquet('__GRAFT_IVF_BA__/*.parquet')),
             |p AS (SELECT qa.query_id, ca.neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(qa.qv, ca.qb), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        qa.na, ca.nb
             |      FROM qa JOIN ca USING (centroid_id) WHERE qa.query_id <> ca.neighbor_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine FROM p),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: IVF against a MUTATED index — the DELETE half of the
    // index lifecycle (VERDICT r14 item 2): the stored lists were
    // built over the full corpus, then vec_id % 7 == 0 tombstoned via
    // IvfIndex.removeFromLists (O(delta) — data files untouched,
    // readers subtract). The oracle reads the SAME persisted parquet
    // table (which still CONTAINS the deleted rows) and applies the
    // tombstone predicate itself, so the whole deleted-index read path
    // is hash-exact. IndexDeleteSpec pins append+delete+compact ==
    // rebuild bit-identical (llm/IvfIndex.removeFromLists,
    // llm/PqIndex.IndexStore.deleteFrom/read/compact). ----
    ("x3_ann_ivf_deleted",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.ivfTopKIndexed(queries, embDeletedLists(s, dir, 16),
            "vec_id", "embedding",
            k = 5, centroids = embCentroids(s, dir, 16), nProbe = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings WHERE vec_id % 10 = 0),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C16__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |qa AS (SELECT vec_id AS query_id, q AS qv, n2 AS na, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |       WHERE rn <= 4),
             |ca AS (SELECT centroid_id, vec_id AS neighbor_id, "__qv" AS qb, "__n2" AS nb
             |       FROM read_parquet('__GRAFT_IVF_D16__/*.parquet')
             |       WHERE vec_id % 7 <> 0),
             |p AS (SELECT qa.query_id, ca.neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(qa.qv, ca.qb), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        qa.na, ca.nb
             |      FROM qa JOIN ca USING (centroid_id) WHERE qa.query_id <> ca.neighbor_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine FROM p),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: cluster-balanced diversity sample — at most perCell
    // rows kept per embedding cluster in engine-neutral md5-hash
    // order, off the SAME persisted inverted lists the ANN/semantic-
    // dedup operators share (one index, four operators). The quota is
    // a rank-limit window Spark runs as WindowGroupLimit: tasks keep
    // their local top-perCell per cell BEFORE the shuffle, so the
    // exchange is bounded at any cluster skew (plan-asserted)
    // (llm/SimilarityOps.diversitySampleIndexed). ----
    ("x3_diversity_sample",
      (s: SparkSession, dir: String) => {
        SimilarityOps.diversitySampleIndexed(embLists(s, dir, 16), "vec_id",
            perCell = 20, hash = DedupOps.md5TokenHash)
          .orderBy(col("centroid_id"), col("cell_rank"))
      },
      Some("""WITH ca AS (SELECT centroid_id, vec_id FROM read_parquet('__GRAFT_IVF_B16__/*.parquet')),
             |h AS (SELECT centroid_id, vec_id,
             |        CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS hv
             |      FROM ca),
             |r AS (SELECT centroid_id, vec_id,
             |        row_number() OVER (PARTITION BY centroid_id ORDER BY hv, vec_id) AS cell_rank
             |      FROM h)
             |SELECT centroid_id, vec_id, CAST(cell_rank AS BIGINT) AS cell_rank
             |FROM r WHERE cell_rank <= 20 ORDER BY centroid_id, cell_rank""".stripMargin)),

    // ---- X3: per-cluster outlier candidates — the k rows per cell
    // FARTHEST (lowest cosine) from their own centroid, the
    // least-typical members embedding-space cleaning inspects or
    // drops; sixth operator off the one shared IVF index. Same
    // WindowGroupLimit rank-limit shape as the diversity sample, so
    // the exchange stays bounded at any cluster skew. ORACLE-EXACT:
    // the SQL scores both persisted parquet tables with the identical
    // integer dot / sqrt division and the −2.0 zero-norm sentinel
    // (llm/SimilarityOps.cellOutliersIndexed). ----
    ("x3_cell_outliers",
      (s: SparkSession, dir: String) => {
        SimilarityOps.cellOutliersIndexed(embLists(s, dir, 16),
            embCentroids(s, dir, 16), "vec_id", k = 10)
          .orderBy(col("centroid_id"), col("out_rank"))
      },
      Some("""WITH ca AS (SELECT centroid_id, vec_id, "__qv" AS qb, "__n2" AS nb
             |       FROM read_parquet('__GRAFT_IVF_B16__/*.parquet')),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C16__/*.parquet')),
             |sc AS (SELECT ca.centroid_id, ca.vec_id,
             |         CASE WHEN ca.nb = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(ca.qb, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(ca.nb * c.cn2 AS DOUBLE)) END AS cosine
             |       FROM ca JOIN c USING (centroid_id)),
             |k AS (SELECT *, row_number() OVER (PARTITION BY centroid_id ORDER BY cosine ASC, vec_id) AS out_rank FROM sc)
             |SELECT centroid_id, CAST(out_rank AS BIGINT) AS out_rank, vec_id, cosine
             |FROM k WHERE out_rank <= 10 ORDER BY centroid_id, out_rank""".stripMargin)),

    // ---- X3/X2: near-dup threshold sweep — the dedup-aggressiveness
    // curve (pairs and affected docs per candidate cosine cutoff) in
    // one pass over the bucket-scoped candidates of the SAME persisted
    // IVF lists (SemDeDup's epsilon decision, made with data instead
    // of folklore). Each pair scored once with the all-integer test;
    // explode bounded by |thresholds|
    // (llm/SimilarityOps.nearDupThresholdSweep). ----
    ("x3_threshold_sweep",
      (s: SparkSession, dir: String) => {
        SimilarityOps.nearDupThresholdSweep(embLists(s, dir, 16), "vec_id",
            thresholdsPct = Seq(25, 30, 35, 40, 45))
          .orderBy(col("threshold_pct"))
      },
      Some("""WITH ca AS (SELECT centroid_id, vec_id, "__qv" AS qv, "__n2" AS n2
             |       FROM read_parquet('__GRAFT_IVF_B16__/*.parquet')),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |        CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        a.n2 AS na, b.n2 AS nb
             |      FROM ca a JOIN ca b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
             |th(t, num, den) AS (VALUES (25, 1, 4), (30, 3, 10), (35, 7, 20), (40, 2, 5), (45, 9, 20)),
             |q AS (SELECT t, id_a, id_b FROM p, th
             |      WHERE dot >= 0 AND dot * dot * den * den >= na * nb * num * num),
             |np AS (SELECT t, CAST(count(*) AS BIGINT) AS n_pairs FROM q GROUP BY t),
             |nd AS (SELECT t, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
             |       FROM (SELECT t, id_a AS d FROM q UNION ALL SELECT t, id_b AS d FROM q)
             |       GROUP BY t)
             |SELECT CAST(np.t AS BIGINT) AS threshold_pct, n_pairs, n_docs
             |FROM np JOIN nd USING (t) ORDER BY threshold_pct""".stripMargin)),

    // ---- X3: IVF at full probe — nProbe = nCentroids degenerates to an
    // exhaustive search, so the SAME bucketed plan is value-exact
    // against the brute-force oracle (validates assignment, probing and
    // per-bucket scoring end to end) ----
    ("x3_ann_ivf_full",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.ivfTopK(queries, emb, "vec_id", "embedding",
            k = 5, centroids = embCentroids(s, dir, 8), nProbe = 8)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        a.n2 AS qa, b.n2 AS qb
             |      FROM n a JOIN n b ON a.vec_id % 10 = 0 AND a.vec_id <> b.vec_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CAST(dot AS DOUBLE) / sqrt(CAST(qa * qb AS DOUBLE)) AS cosine FROM p),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: random-hyperplane LSH ANN (second ANN family beside
    // IVF; no index to build — the hash IS the index). 8 tables × 8
    // sign bits, multi-probe Hamming ≤ 1: ≤ 8·9/256 ≈ 28% of the
    // corpus scanned per query; the data-oblivious hash holds its own
    // vs IVF at the same budget because the corpus has no strong
    // cluster structure for IVF to exploit (tools/Probe measures both).
    // ORACLE-EXACT: the registered query uses the md5-derived sign
    // parity (RhpSign.md5Parity — same scheme as x3_jl_project), so
    // the oracle rebuilds the identical ±1 sign matrix, packs the same
    // 8-bit bucket per table, expands the same Hamming≤1 probe set,
    // and replays candidate→score→rank exactly. The md5 cost is
    // driver-side only (64×64 hashes at matrix build); per-row work is
    // identical to the xxhash64 default. ----
    ("x3_ann_rhp",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.rhpTopK(queries, emb, "vec_id", "embedding",
            k = 5, nBits = 8, probeHamming = 1, nTables = 8,
            signParity = graft.functions.RhpSign.md5Parity, maxInputDim = 64)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(rhpMd5OracleSql)),

    // ---- X3: RHP against the PERSISTED bucket + quantized-corpus
    // tables — for RHP the hash IS the index, but at 100 TB even the
    // hashing/quantization projection is a corpus scan better paid
    // once (IndexStore lifecycle; parity family named in the sidecar
    // params). Only the queries hash per call. The oracle recomputes
    // the identical sign matrix from the raw embeddings, so it is the
    // SAME oracle as x3_ann_rhp — value-equality of the two queries is
    // itself part of the check. ----
    ("x3_ann_rhp_indexed",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        val (buckets, qcorpus) = SimilarityOps.loadOrBuildRhpIndex(emb,
          "vec_id", "embedding", nBits = 8, nTables = 8, parityTag = "md5",
          signParity = graft.functions.RhpSign.md5Parity, maxInputDim = 64,
          indexPath = rhpIndexPath(dir))
        SimilarityOps.rhpTopKIndexed(queries, buckets, qcorpus, "vec_id", "embedding",
            k = 5, nBits = 8, probeHamming = 1, nTables = 8,
            signParity = graft.functions.RhpSign.md5Parity, maxInputDim = 64)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(rhpMd5OracleSql)),

    // ---- X3: RHP at full probe — probeHamming = nBits probes every
    // bucket, so the SAME bucketed plan degenerates to the brute-force
    // result (validates bucketing, probe expansion and per-bucket
    // scoring end to end against the exact oracle) ----
    ("x3_ann_rhp_full",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.rhpTopK(queries, emb, "vec_id", "embedding",
            k = 5, nBits = 4, probeHamming = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        a.n2 AS qa, b.n2 AS qb
             |      FROM n a JOIN n b ON a.vec_id % 10 = 0 AND a.vec_id <> b.vec_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CAST(dot AS DOUBLE) / sqrt(CAST(qa * qb AS DOUBLE)) AS cosine FROM p),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: product-quantization ANN (ADC) — the MEMORY side of
    // 100 TB vector search: 64 floats -> 8 byte-codes per vector, a
    // query scores a candidate in 8 table lookups. Seed-only
    // codebooks (kmeansIters = 0) are SQL-derivable, so unlike the
    // rows-only IVF/RHP entries this oracle replays the ENTIRE PQ
    // pipeline — codebooks, encoding, ADC scoring, ranking —
    // value-exact. Lloyd refinement + the exact re-rank stage are
    // spec-pinned (SimilarityOpsSpec), incl. the nCodes >= N
    // degeneration to brute force. ----
    ("x3_ann_pq",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.pqTopK(queries, emb, "vec_id", "embedding",
            k = 5,
            codebooks = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
              nSubspaces = 8, nCodes = 16, kmeansIters = 0),
            nSubspaces = 8)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |sv AS (SELECT vec_id, n2, CAST(r.m AS BIGINT) AS m,
             |         list_slice(q, r.m * 8 + 1, r.m * 8 + 8) AS sq
             |       FROM n, range(8) r(m)),
             |cb AS (SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code, sq AS cw,
             |         CAST(list_sum(list_transform(sq, x -> x * x)) AS BIGINT) AS cwn2
             |       FROM sv WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
             |asg AS (SELECT sv.vec_id, sv.m, cb.code,
             |          cb.cwn2 - 2 * CAST(list_sum(list_transform(list_zip(sv.sq, cb.cw), x -> x[1] * x[2])) AS BIGINT) AS d
             |        FROM sv JOIN cb USING (m)),
             |enc AS (SELECT vec_id, m, code FROM (
             |          SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn FROM asg)
             |        WHERE rn = 1),
             |qd AS (SELECT sv.vec_id AS query_id, sv.m, cb.code,
             |         CAST(list_sum(list_transform(list_zip(sv.sq, cb.cw), x -> x[1] * x[2])) AS BIGINT) AS pdot
             |       FROM sv JOIN cb USING (m) WHERE sv.vec_id % 10 = 0),
             |p AS (SELECT qd.query_id, e.vec_id AS neighbor_id, CAST(sum(qd.pdot) AS BIGINT) AS dot
             |      FROM enc e JOIN qd ON qd.m = e.m AND qd.code = e.code
             |      WHERE qd.query_id <> e.vec_id GROUP BY 1, 2),
             |r AS (SELECT p.query_id, p.neighbor_id,
             |        CAST(p.dot AS DOUBLE) / sqrt(CAST(qn.n2 * cn.n2 AS DOUBLE)) AS cosine
             |      FROM p JOIN n qn ON qn.vec_id = p.query_id
             |             JOIN n cn ON cn.vec_id = p.neighbor_id),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: IVF-PQ composition (the FAISS IVFPQ shape): coarse
    // buckets prune WHICH candidates are scored, PQ codes compress HOW.
    // ORACLE-EXACT: the oracle reads the persisted c16 coarse index
    // (__GRAFT_IVF_C16__), rebuilds the seed-derivable PQ codebooks
    // from the corpus (kmeansIters = 0, as proven by x3_ann_pq), and
    // replays the ENTIRE composition — bucket assignment, probing,
    // PQ encoding, ADC scoring, the top-20 shortlist, and the exact
    // re-rank to top-5. ----
    ("x3_ann_ivfpq",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.ivfPqTopK(queries, emb, "vec_id", "embedding",
            k = 5, centroids = embCentroids(s, dir, 16), nProbe = 4,
            codebooks = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
              nSubspaces = 8, nCodes = 16, kmeansIters = 0),
            nSubspaces = 8, refine = 20)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C16__/*.parquet')),
             |csc AS (SELECT n.vec_id, n.n2, c.centroid_id,
             |          CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |               ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                    / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |        FROM n, c),
             |ca AS (SELECT vec_id AS neighbor_id, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM csc)
             |       WHERE rn = 1),
             |qpr AS (SELECT vec_id AS query_id, centroid_id
             |        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
             |              FROM csc WHERE vec_id % 10 = 0)
             |        WHERE rn <= 4),
             |cand AS (SELECT qpr.query_id, ca.neighbor_id
             |         FROM qpr JOIN ca USING (centroid_id) WHERE qpr.query_id <> ca.neighbor_id),
             |sv AS (SELECT vec_id, n2, CAST(r.m AS BIGINT) AS m,
             |         list_slice(q, r.m * 8 + 1, r.m * 8 + 8) AS sq
             |       FROM n, range(8) r(m)),
             |cb AS (SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code, sq AS cw,
             |         CAST(list_sum(list_transform(sq, x -> x * x)) AS BIGINT) AS cwn2
             |       FROM sv WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
             |asg AS (SELECT sv.vec_id, sv.m, cb.code,
             |          cb.cwn2 - 2 * CAST(list_sum(list_transform(list_zip(sv.sq, cb.cw), x -> x[1] * x[2])) AS BIGINT) AS d
             |        FROM sv JOIN cb USING (m)),
             |enc AS (SELECT vec_id, m, code FROM (
             |          SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn FROM asg)
             |        WHERE rn = 1),
             |qd AS (SELECT sv.vec_id AS query_id, sv.m, cb.code,
             |         CAST(list_sum(list_transform(list_zip(sv.sq, cb.cw), x -> x[1] * x[2])) AS BIGINT) AS pdot
             |       FROM sv JOIN cb USING (m) WHERE sv.vec_id % 10 = 0),
             |adc AS (SELECT cand.query_id, cand.neighbor_id, CAST(sum(qd.pdot) AS BIGINT) AS dot
             |        FROM cand JOIN enc e ON e.vec_id = cand.neighbor_id
             |                  JOIN qd ON qd.query_id = cand.query_id AND qd.m = e.m AND qd.code = e.code
             |        GROUP BY 1, 2),
             |r20 AS (SELECT adc.query_id, adc.neighbor_id,
             |          CAST(adc.dot AS DOUBLE) / sqrt(CAST(qn.n2 * cn.n2 AS DOUBLE)) AS cosine
             |        FROM adc JOIN n qn ON qn.vec_id = adc.query_id
             |                 JOIN n cn ON cn.vec_id = adc.neighbor_id),
             |s20 AS (SELECT query_id, neighbor_id FROM (
             |          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM r20)
             |        WHERE rn <= 20),
             |ex AS (SELECT s20.query_id, s20.neighbor_id,
             |         CAST(list_sum(list_transform(list_zip(a.q, b.q), t -> t[1] * t[2])) AS BIGINT) AS dot,
             |         a.n2 AS na, b.n2 AS nb
             |       FROM s20 JOIN n a ON a.vec_id = s20.query_id
             |                JOIN n b ON b.vec_id = s20.neighbor_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine FROM ex),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X3: per-label embedding centroids (class prototypes) in
    // exact quantized-integer means, flattened to tidy rows ----
    ("x3_label_centroids",
      (s: SparkSession, dir: String) => {
        SimilarityOps.labelCentroids(Tables.load(s, dir, "embeddings"), "label", "embedding")
          .orderBy(col("label"), col("p"))
      },
      Some("""WITH q AS (SELECT label,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |e0 AS (SELECT label, qv, unnest(generate_series(1, len(qv))) AS p FROM q),
             |e AS (SELECT label, CAST(p AS BIGINT) AS p, qv[p] AS v FROM e0)
             |SELECT label, p,
             |  CAST(CASE WHEN sum(v) < 0 THEN -((-sum(v)) // count(*))
             |            ELSE sum(v) // count(*) END AS BIGINT) AS m,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM e GROUP BY label, p ORDER BY label, p""".stripMargin)),

    // ---- X4: token statistics ----
    ("x4_text_stats",
      (s: SparkSession, dir: String) => {
        TextOps.tokenStats(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents)
             |SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
             |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
             |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_tok_len,
             |  CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT) AS longest
             |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- X4: marker-based language scoring ----
    ("x4_lang_score",
      (s: SparkSession, dir: String) => {
        TextOps.langScore(Tables.load(s, dir, "documents"), "doc_id", "text",
            markers = Seq("the", "a"), threshold = 3, label = "en")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_markers,
             |  CASE WHEN len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) >= 3
             |       THEN 'en' ELSE 'other' END AS predicted
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4: char-trigram language ID (n-gram profile argmax) ----
    ("x4_trigram_langid",
      (s: SparkSession, dir: String) => {
        // one-pass codegen expression; TextOpsSpec pins its equality
        // with an explode-formulated reference
        TextOps.trigramLangId(Tables.load(s, dir, "documents"), "doc_id", "text",
            profiles = Seq(
              "en" -> Seq("the", "ing", "and", "ion", "ent"),
              "de" -> Seq("der", "sch", "ein", "ich", "und")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_transform(range(1, greatest(length(text) - 1, 1)),
             |      i -> substr(lower(text), CAST(i AS INT), 3)) AS tg
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(list_filter(tg, x -> x IN ('the','ing','and','ion','ent'))) AS BIGINT) AS n_en,
             |  CAST(len(list_filter(tg, x -> x IN ('der','sch','ein','ich','und'))) AS BIGINT) AS n_de,
             |  CASE WHEN len(list_filter(tg, x -> x IN ('der','sch','ein','ich','und')))
             |          > len(list_filter(tg, x -> x IN ('the','ing','and','ion','ent')))
             |       THEN 'de' ELSE 'en' END AS predicted
             |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- X4: quality scoring ----
    ("x4_quality",
      (s: SparkSession, dir: String) => {
        TextOps.qualityScore(Tables.load(s, dir, "documents"), "doc_id", "text",
            stopwords = Seq("the", "a"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH q AS (SELECT doc_id,
             |    CAST(length(text) AS BIGINT) AS n_chars_m,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop
             |  FROM documents)
             |SELECT doc_id, n_chars_m, n_tokens, n_stop,
             |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
             |  CASE WHEN n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens >= CAST(0.05 AS DOUBLE) THEN 'high'
             |       WHEN n_tokens >= 10 THEN 'medium' ELSE 'low' END AS quality
             |FROM q ORDER BY doc_id""".stripMargin)),

    // ---- X4: pattern redaction (PII-scrub shape): entity terms then
    // digit runs, applied in order, with redaction counts. Patterns
    // stay in the Java-regex/RE2 common subset so the oracle reproduces
    // the rewrite byte-for-byte. ----
    ("x4_redact",
      (s: SparkSession, dir: String) => {
        TextOps.redactPatterns(Tables.load(s, dir, "documents"), "doc_id", "text",
            rules = Seq("customer|supplier" -> "<ENT>", "[0-9]+" -> "<NUM>"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH s1 AS (SELECT doc_id,
             |    len(regexp_extract_all(text, 'customer|supplier')) AS n1,
             |    regexp_replace(text, 'customer|supplier', '<ENT>', 'g') AS t1
             |  FROM documents),
             |s2 AS (SELECT doc_id,
             |    n1 + len(regexp_extract_all(t1, '[0-9]+')) AS n_redacted,
             |    regexp_replace(t1, '[0-9]+', '<NUM>', 'g') AS red_text
             |  FROM s1)
             |SELECT doc_id, CAST(n_redacted AS BIGINT) AS n_redacted, red_text,
             |  CAST(length(red_text) AS BIGINT) AS red_len
             |FROM s2 ORDER BY doc_id""".stripMargin)),

    // ---- X4: Gopher-style quality-rule gate — per-rule boolean flags
    // (cast to 0/1 for the hash gate) plus the conjunction verdict ----
    ("x4_gopher_rules",
      (s: SparkSession, dir: String) => {
        val flags = Seq("r_len", "r_mean", "r_short", "r_stop", "keep")
        val out = TextOps.gopherRules(Tables.load(s, dir, "documents"), "doc_id", "text",
          stopwords = Seq("the", "a"), minWords = 30, maxWords = 90,
          minMeanLen = 4.2, maxMeanLen = 5.0, maxShortFrac = 0.06, minStopHits = 2)
        // mean_len/short_frac are single IEEE divisions of identical
        // operands — bit-exact on both engines, no rounding needed
        flags.foldLeft(out)((d, f) => d.withColumn(f, col(f).cast("long")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |q AS (SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_words,
             |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS mean_len,
             |    CAST(len(list_filter(toks, t -> length(t) <= 2)) AS DOUBLE) / len(toks) AS short_frac,
             |    CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop
             |  FROM t),
             |f AS (SELECT doc_id, n_words, mean_len, short_frac, n_stop,
             |    CASE WHEN n_words >= 30 AND n_words <= 90 THEN 1 ELSE 0 END AS r_len,
             |    CASE WHEN mean_len >= 4.2 AND mean_len <= 5.0 THEN 1 ELSE 0 END AS r_mean,
             |    CASE WHEN short_frac <= 0.06 THEN 1 ELSE 0 END AS r_short,
             |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
             |  FROM q)
             |SELECT doc_id, n_words, mean_len, short_frac, n_stop,
             |  CAST(r_len AS BIGINT) AS r_len, CAST(r_mean AS BIGINT) AS r_mean,
             |  CAST(r_short AS BIGINT) AS r_short, CAST(r_stop AS BIGINT) AS r_stop,
             |  CAST(r_len * r_mean * r_short * r_stop AS BIGINT) AS keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    // ---- X4: BPE-ish regex token counting ----
    ("x4_regex_tokens",
      (s: SparkSession, dir: String) => {
        TextOps.regexTokenCount(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS rt,
             |    len(string_split(text, ' ')) AS n_ws FROM documents)
             |SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws_tokens,
             |  CAST(len(rt) AS BIGINT) AS n_bpe_tokens,
             |  CAST(len(list_distinct(rt)) AS BIGINT) AS n_bpe_uniq
             |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- X4: BPE vocabulary TRAINING — learn the first 4 merges from
    // the corpus (Sennrich et al. 2016). The oracle replays all 4
    // rounds in SQL: word-frequency reduction, pair counts, the
    // argmax, and the left-to-right non-overlapping merge via the
    // run-parity formulation (see bpeTrainRoundSql) — the whole
    // trainer is hash-checked, not just its output shape. ----
    ("x4_bpe_train",
      (s: SparkSession, dir: String) => {
        TextOps.bpeTrain(Tables.load(s, dir, "documents"), "doc_id", "text", nMerges = 4)
      },
      Some {
        val rounds = (1 to 4).map(bpeTrainRoundSql).mkString(",\n")
        val unions = (1 to 4).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS round, a AS "left", b AS "right", CAST(cnt AS BIGINT) AS pair_freq FROM b$r""")
          .mkString("\nUNION ALL ")
        s"""WITH w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
           |    list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
           |$rounds
           |$unions
           |ORDER BY round""".stripMargin
      }),

    // ---- X4: BPE training with the word cap spelled out — bpeTrain
    // at maxWords = Int.MaxValue (full coverage) is the same call as
    // x4_bpe_train, so the SAME 4-round SQL replay hash-checks it. ----
    ("x4_bpe_train_sampled",
      (s: SparkSession, dir: String) => {
        TextOps.bpeTrain(Tables.load(s, dir, "documents"), "doc_id", "text",
            nMerges = 4, maxWords = Int.MaxValue)
      },
      Some {
        val rounds = (1 to 4).map(bpeTrainRoundSql).mkString(",\n")
        val unions = (1 to 4).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS round, a AS "left", b AS "right", CAST(cnt AS BIGINT) AS pair_freq FROM b$r""")
          .mkString("\nUNION ALL ")
        s"""WITH w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
           |    list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
           |$rounds
           |$unions
           |ORDER BY round""".stripMargin
      }),

    // ---- X4: BPE train→apply pipeline — learn 4 merges from the
    // lowered corpus, then encode that same corpus with base chars +
    // the learned pieces (greedy longest match). The oracle derives
    // the vocabulary from the 4-round train replay — b1..b4's merge
    // products feed the recursive encoder — so the learned pieces are
    // never interpolated as literals: the full train→apply dataflow is
    // hash-checked. Driver surface = the 4 learned merges (the same
    // bounded argmax rows training itself produces). ----
    ("x4_bpe_pipeline",
      (s: SparkSession, dir: String) => {
        val lowered = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lower(col("text")).as("text"))
        val merges = TextOps.bpeTrain(lowered, "doc_id", "text", nMerges = 4).collect()
        val vocab = "abcdefghijklmnopqrstuvwxyz0123456789".map(_.toString) ++
          merges.map(r => r.getString(1) + r.getString(2)).toSeq
        TextOps.bpeEncode(lowered, "doc_id", "text", vocab).orderBy(col("doc_id"))
      },
      Some {
        val rounds = (1 to 4).map(bpeTrainRoundSql).mkString(",\n")
        val chars = "abcdefghijklmnopqrstuvwxyz0123456789"
          .map(c => s"('$c')").mkString(", ")
        s"""WITH RECURSIVE w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
           |    list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
           |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) GROUP BY w),
           |$rounds,
           |bv0(v) AS (VALUES $chars),
           |bv AS (SELECT v FROM bv0
           |  UNION ALL SELECT a || b FROM b1 UNION ALL SELECT a || b FROM b2
           |  UNION ALL SELECT a || b FROM b3 UNION ALL SELECT a || b FROM b4),
           |bws AS (SELECT doc_id, string_split(lower(text), ' ') AS sw FROM documents),
           |bw AS (SELECT doc_id, wpos, sw[wpos] AS w
           |       FROM (SELECT doc_id, sw, unnest(generate_series(1, len(sw))) AS wpos FROM bws)
           |       WHERE sw[wpos] <> ''),
           |benc AS (
           |  SELECT doc_id, wpos, w AS rem, CAST([] AS VARCHAR[]) AS toks FROM bw
           |  UNION ALL
           |  SELECT doc_id, wpos, substr(rem, 1 + len(tok)), list_append(toks, tok)
           |  FROM (SELECT doc_id, wpos, rem, toks,
           |          coalesce((SELECT v FROM bv WHERE starts_with(rem, v) ORDER BY len(v) DESC, v LIMIT 1),
           |                   substr(rem, 1, 1)) AS tok
           |        FROM benc WHERE rem <> '')),
           |bdone AS (SELECT doc_id, wpos, toks FROM benc WHERE rem = ''),
           |bflat AS (SELECT doc_id, unnest(toks) AS tok FROM bdone),
           |bagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |           CAST(sum(CASE WHEN tok NOT IN (SELECT v FROM bv) THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
           |         FROM bflat GROUP BY doc_id),
           |bstr AS (SELECT doc_id, string_agg(array_to_string(toks, '|'), '|' ORDER BY wpos) AS toks
           |         FROM bdone GROUP BY doc_id)
           |SELECT bagg.doc_id, n_tokens, n_unk, toks
           |FROM bagg JOIN bstr USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // ---- X4: train→apply pipeline at 2× the merge depth — bpeTrain
    // with the word cap spelled out (full coverage) feeding the
    // encoder, oracle-checked end-to-end: the vocabulary is DERIVED
    // from an 8-round SQL replay. Exercises merge products of merge
    // products (round-8 pieces span 3+ characters), which the 4-round
    // pipeline never reaches. ----
    ("x4_bpe_pipeline_sampled",
      (s: SparkSession, dir: String) => {
        val lowered = Tables.load(s, dir, "documents")
          .select(col("doc_id"), lower(col("text")).as("text"))
        val merges = TextOps.bpeTrain(lowered, "doc_id", "text",
            nMerges = 8, maxWords = Int.MaxValue).collect()
        val vocab = "abcdefghijklmnopqrstuvwxyz0123456789".map(_.toString) ++
          merges.map(r => r.getString(1) + r.getString(2)).toSeq
        TextOps.bpeEncode(lowered, "doc_id", "text", vocab).orderBy(col("doc_id"))
      },
      Some {
        val rounds = (1 to 8).map(bpeTrainRoundSql).mkString(",\n")
        val chars = "abcdefghijklmnopqrstuvwxyz0123456789"
          .map(c => s"('$c')").mkString(", ")
        val bvUnions = (1 to 8).map(r => s"UNION ALL SELECT a || b FROM b$r").mkString(" ")
        s"""WITH RECURSIVE w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
           |    list_transform(range(1, length(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
           |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) GROUP BY w),
           |$rounds,
           |bv0(v) AS (VALUES $chars),
           |bv AS (SELECT v FROM bv0 $bvUnions),
           |bws AS (SELECT doc_id, string_split(lower(text), ' ') AS sw FROM documents),
           |bw AS (SELECT doc_id, wpos, sw[wpos] AS w
           |       FROM (SELECT doc_id, sw, unnest(generate_series(1, len(sw))) AS wpos FROM bws)
           |       WHERE sw[wpos] <> ''),
           |benc AS (
           |  SELECT doc_id, wpos, w AS rem, CAST([] AS VARCHAR[]) AS toks FROM bw
           |  UNION ALL
           |  SELECT doc_id, wpos, substr(rem, 1 + len(tok)), list_append(toks, tok)
           |  FROM (SELECT doc_id, wpos, rem, toks,
           |          coalesce((SELECT v FROM bv WHERE starts_with(rem, v) ORDER BY len(v) DESC, v LIMIT 1),
           |                   substr(rem, 1, 1)) AS tok
           |        FROM benc WHERE rem <> '')),
           |bdone AS (SELECT doc_id, wpos, toks FROM benc WHERE rem = ''),
           |bflat AS (SELECT doc_id, unnest(toks) AS tok FROM bdone),
           |bagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |           CAST(sum(CASE WHEN tok NOT IN (SELECT v FROM bv) THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
           |         FROM bflat GROUP BY doc_id),
           |bstr AS (SELECT doc_id, string_agg(array_to_string(toks, '|'), '|' ORDER BY wpos) AS toks
           |         FROM bdone GROUP BY doc_id)
           |SELECT bagg.doc_id, n_tokens, n_unk, toks
           |FROM bagg JOIN bstr USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // ---- X4: BPE-apply — greedy longest-match subword encode under a
    // broadcast vocabulary (codegen expression Spark-side; the oracle
    // replays the same maximal-munch rule with a recursive CTE) ----
    ("x4_bpe_encode",
      (s: SparkSession, dir: String) => {
        TextOps.bpeEncode(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE bv(v) AS (VALUES ${TextOps.DemoBpeVocab.map(v => s"('$v')").mkString(", ")}),
             |bws AS (SELECT doc_id, string_split(lower(text), ' ') AS sw FROM documents),
             |bw AS (SELECT doc_id, wpos, sw[wpos] AS w
             |       FROM (SELECT doc_id, sw, unnest(generate_series(1, len(sw))) AS wpos FROM bws)
             |       WHERE sw[wpos] <> ''),
             |benc AS (
             |  SELECT doc_id, wpos, w AS rem, CAST([] AS VARCHAR[]) AS toks FROM bw
             |  UNION ALL
             |  SELECT doc_id, wpos, substr(rem, 1 + len(tok)), list_append(toks, tok)
             |  FROM (SELECT doc_id, wpos, rem, toks,
             |          coalesce((SELECT v FROM bv WHERE starts_with(rem, v) ORDER BY len(v) DESC, v LIMIT 1),
             |                   substr(rem, 1, 1)) AS tok
             |        FROM benc WHERE rem <> '')),
             |bdone AS (SELECT doc_id, wpos, toks FROM benc WHERE rem = ''),
             |bflat AS (SELECT doc_id, unnest(toks) AS tok FROM bdone),
             |bagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |           CAST(sum(CASE WHEN tok NOT IN (SELECT v FROM bv) THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
             |         FROM bflat GROUP BY doc_id),
             |bstr AS (SELECT doc_id, string_agg(array_to_string(toks, '|'), '|' ORDER BY wpos) AS toks
             |         FROM bdone GROUP BY doc_id)
             |SELECT bagg.doc_id, n_tokens, n_unk, toks
             |FROM bagg JOIN bstr USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ---- X4: merge-order-faithful BPE apply — trained merges applied
    // in rank order, one left-to-right pass each (Sennrich et al. 2016
    // semantics, matching what bpeTrain learns), vs x4_bpe_encode's
    // greedy longest-match approximation. Spark folds the merge list
    // into one codegen'd replace-chain over DISTINCT words (separator-
    // wrapped symbols make literal replace = the non-overlap merge
    // pass), broadcast-joined back to corpus positions; the oracle
    // replays the identical replace chain in DuckDB. ----
    ("x4_bpe_encode_ranked",
      (s: SparkSession, dir: String) => {
        TextOps.bpeEncodeRanked(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some {
        val sep = "\u001f"
        def wrap(t: String) = sep + t + sep
        val chain = TextOps.DemoBpeMerges.foldLeft("enc") { case (e, (x, y)) =>
          s"replace($e, '${wrap(x) + wrap(y)}', '${wrap(x + y)}')"
        }
        s"""WITH bws AS (SELECT doc_id, string_split(lower(text), ' ') AS sw FROM documents),
           |bw AS (SELECT doc_id, wpos, sw[wpos] AS w
           |       FROM (SELECT doc_id, sw, unnest(generate_series(1, len(sw))) AS wpos FROM bws)
           |       WHERE sw[wpos] <> ''),
           |dw AS (SELECT DISTINCT w FROM bw),
           |e0 AS (SELECT w, '$sep' || array_to_string(string_split(w, ''), '$sep$sep') || '$sep' AS enc FROM dw),
           |ek AS (SELECT w, $chain AS enc FROM e0),
           |wt AS (SELECT w, string_split(substr(enc, 2, len(enc) - 2), '$sep$sep') AS toks FROM ek),
           |j AS (SELECT doc_id, wpos, toks FROM bw JOIN wt USING (w)),
           |agg AS (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
           |          string_agg(array_to_string(toks, '|'), '|' ORDER BY wpos) AS toks
           |        FROM j GROUP BY doc_id)
           |SELECT d.doc_id, CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
           |       coalesce(agg.toks, '') AS toks
           |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin
      }),

    // ---- X4: hashed-n-gram linear classifier (fastText serving
    // shape) — model-based quality filtering. The weight table is the
    // deterministic md5 pseudo-model so the oracle replays scoring
    // bit-for-bit; a trained table plugs into the same plan. ----
    ("x4_classifier_score",
      (s: SparkSession, dir: String) => {
        TextOps.classifierScore(
            Tables.load(s, dir, "documents"), "doc_id", "text",
            weights = TextOps.pseudoWeights(s, 4096), nBuckets = 4096,
            tokenHash = DedupOps.md5TokenHash)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |f0 AS (SELECT doc_id, list_concat(toks,
             |         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS feats
             |       FROM t),
             |f AS (SELECT doc_id, unnest(feats) AS feat FROM f0),
             |b AS (SELECT doc_id,
             |        CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT) % 4096 AS bucket FROM f),
             |w AS (SELECT CAST(r.i AS BIGINT) AS bucket,
             |        CAST(('0x' || substr(md5('w:' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000 AS w
             |      FROM range(4096) r(i)),
             |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
             |        CAST(sum(w.w) AS BIGINT) AS sum_w
             |      FROM b JOIN w USING (bucket) GROUP BY doc_id),
             |sc AS (SELECT doc_id, n_feat, sum_w,
             |         CAST(CASE WHEN sum_w < 0 THEN -((-sum_w * 1000) // n_feat)
             |                   ELSE (sum_w * 1000) // n_feat END AS BIGINT) AS score_q
             |       FROM a)
             |SELECT doc_id, n_feat, sum_w, score_q, score_q > 0 AS keep
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // ---- X4: normalized corpus vocabulary statistics ----
    ("x4_corpus_terms",
      (s: SparkSession, dir: String) => {
        TextOps.corpusTermStats(Tables.load(s, dir, "documents"), "doc_id", "text",
            stopwords = Seq("the", "a", "of"), minCount = 5)
          .orderBy(col("term"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    unnest(list_filter(list_transform(string_split(lower(text), ' '),
             |      x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             |      x -> x != '' AND x NOT IN ('the', 'a', 'of'))) AS term
             |  FROM documents)
             |SELECT term, CAST(count(*) AS BIGINT) AS tf_corpus,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
             |FROM t GROUP BY term HAVING count(*) >= 5 ORDER BY term""".stripMargin)),

    // ---- X4: heavy hitters — exact top-k terms plus a count-min
    // certification. The exact side is the oracle anchor (DuckDB
    // recomputes the same top-k); the sketch side is ONE bounded d×w
    // matrix built map-side-combined in a single pass — the only shape
    // that survives a vocabulary too large to shuffle — and its
    // estimates carry two integer verdicts: never_under (count-min is
    // one-sided; a 0 means broken merge/indexing, not noise) and
    // within_eps (estimate ≤ exact + 10·(e/w)·N; failure odds <1e-6 at
    // the defaults). DuckDB replays the verdicts as literal 1s. ----
    ("x4_heavy_hitters",
      (s: SparkSession, dir: String) => {
        TextOps.heavyHitters(Tables.load(s, dir, "documents"), "doc_id", "text",
          k = 10, d = 4, w = 8192, slack = 10)
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
             |c AS (SELECT term, CAST(count(*) AS BIGINT) AS tf_corpus
             |      FROM toks WHERE term != '' GROUP BY term)
             |SELECT term, tf_corpus, 1 AS never_under, 1 AS within_eps
             |FROM c ORDER BY tf_corpus DESC, term LIMIT 10""".stripMargin)),

    // ---- X4: TF-IDF top terms per document ----
    ("x4_tfidf",
      (s: SparkSession, dir: String) => {
        TextOps.tfidfTopTerms(Tables.load(s, dir, "documents"), "doc_id", "text", k = 3)
          .orderBy(col("doc_id"), col("rnk"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |n AS (SELECT count(*) AS n FROM documents),
             |sc AS (SELECT tf.doc_id, tf.tok, CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
             |         tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS score
             |       FROM tf JOIN df USING (tok), n),
             |r AS (SELECT doc_id, tok, score,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk FROM sc)
             |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, round(score, 6) AS score
             |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // ---- X4: corpus-trained unigram LM surprisal (CCNet-style
    // quality-filter shape). Token surprisal quantized to integers
    // BEFORE the per-doc aggregation, so the sum is order-free and
    // the mean a single IEEE division. ----
    ("x4_lm_surprisal",
      (s: SparkSession, dir: String) => {
        TextOps.lmSurprisal(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
             |tot AS (SELECT sum(tf) AS total FROM tf),
             |sq AS (SELECT toks.doc_id,
             |         CAST(round(-ln(CAST(tf.tf AS DOUBLE) / tot.total) * 1000000) AS BIGINT) AS sq
             |       FROM toks JOIN tf USING (tok), tot)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(sq) AS BIGINT) AS sum_surprisal_q,
             |  CAST(sum(sq) AS DOUBLE) / 1000000.0 / count(*) AS avg_surprisal
             |FROM sq GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X4: CCNet-style perplexity bucketing — score every doc
    // with the corpus-trained LM surprisal (quantized micro-units,
    // same replayable statistic as x4_lm_surprisal), then split the
    // corpus into head/middle/tail TERCILES of per-token surprisal
    // (CCNet's quality partition: head = most fluent under the LM;
    // downstream mixtures sample head-heavy). Tiling runs on the
    // scalable rank machinery (orderedAnalyticsScalable — O(1) reducer
    // state, no global sort on the driver path), and the report is a
    // 3-row rollup: doc/token mass and the quantized surprisal range
    // per bucket — exactly what a mixture planner consumes. ----
    ("x4_ccnet_buckets",
      (s: SparkSession, dir: String) => {
        val scored = TextOps.lmSurprisal(Tables.load(s, dir, "documents"), "doc_id", "text")
          .withColumn("avg_q", expr("sum_surprisal_q div n_tokens"))
          .withColumn("all", lit(0))
        WindowOps.orderedAnalyticsScalable(scored, Seq("all"),
            Seq(col("avg_q"), col("doc_id")), "avg_q", nTiles = 3)
          .withColumn("bucket",
            expr("CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tot_tokens"),
            min(col("avg_q")).as("lo_q"), max(col("avg_q")).as("hi_q"))
          .orderBy(col("bucket"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
             |tot AS (SELECT sum(tf) AS total FROM tf),
             |sq AS (SELECT toks.doc_id,
             |         CAST(round(-ln(CAST(tf.tf AS DOUBLE) / tot.total) * 1000000) AS BIGINT) AS sq
             |       FROM toks JOIN tf USING (tok), tot),
             |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(sq) AS BIGINT) AS ssq
             |      FROM sq GROUP BY doc_id),
             |q AS (SELECT doc_id, n_tokens, ssq // n_tokens AS avg_q FROM d),
             |t AS (SELECT *, ntile(3) OVER (ORDER BY avg_q, doc_id) AS tile FROM q),
             |b AS (SELECT CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
             |             n_tokens, avg_q FROM t)
             |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
             |  CAST(min(avg_q) AS BIGINT) AS lo_q, CAST(max(avg_q) AS BIGINT) AS hi_q
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ---- X4: DSIR importance weights (Xie et al. 2023) — hashed
    // unigram target/source log-likelihood ratio per source doc
    // (target slice = doc_id%20=0, the same exemplar split the
    // decontamination queries use). Bucket λ quantized to integer
    // micro-units once in the 256-row model table, so the per-doc sum
    // is order-free and the md5 bucket hash makes the whole model
    // SQL-recomputable — oracle-exact like x4_lm_surprisal. ----
    ("x4_dsir_weights",
      (s: SparkSession, dir: String) => {
        TextOps.dsirWeights(Tables.load(s, dir, "documents"), "doc_id", "text",
            isTarget = col("doc_id") % 20 === 0, nBuckets = 256,
            tokenHash = DedupOps.md5TokenHash)
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |b AS (SELECT doc_id,
             |        CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS bkt
             |      FROM toks),
             |cnt AS (SELECT bkt,
             |    sum(CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END) AS ct,
             |    sum(CASE WHEN doc_id % 20 <> 0 THEN 1 ELSE 0 END) AS cs
             |  FROM b GROUP BY bkt),
             |tot AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM cnt),
             |lam AS (SELECT bkt,
             |    CAST(round((ln((ct + 1.0) / (tt + 256)) - ln((cs + 1.0) / (ts + 256))) * 1000000) AS BIGINT) AS lam
             |  FROM cnt, tot)
             |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(lam.lam) AS BIGINT) AS logw_q,
             |  CAST(sum(lam.lam) AS DOUBLE) / 1000000.0 / count(*) AS avg_logw
             |FROM b JOIN lam USING (bkt) WHERE b.doc_id % 20 <> 0
             |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),

    // ---- X4: interpolated bigram-LM surprisal — λ·p(w|prev) +
    // (1−λ)·p(w), first token unigram-only; per-token −ln p quantized
    // to integer micro-units before the per-doc sum (order-free,
    // engine-exact). λ enters as an integer-percent division evaluated
    // by each engine, never a pre-computed double literal. ----
    ("x4_bigram_surprisal",
      (s: SparkSession, dir: String) => {
        TextOps.bigramSurprisal(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             |tk AS (SELECT doc_id, i, a[i] AS w, CASE WHEN i > 1 THEN a[i - 1] END AS v
             |       FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM t)),
             |uni AS (SELECT w, count(*) AS uw FROM tk GROUP BY w),
             |tot AS (SELECT sum(uw) AS utot FROM uni),
             |bi AS (SELECT v, w, count(*) AS bvw FROM tk WHERE v IS NOT NULL GROUP BY v, w),
             |pref AS (SELECT v, sum(bvw) AS bv FROM bi GROUP BY v),
             |sq AS (SELECT tk.doc_id,
             |    CAST(round(-ln(CASE WHEN tk.v IS NULL
             |      THEN CAST(uni.uw AS DOUBLE) / tot.utot
             |      ELSE (70 / 100.0) * (CAST(bi.bvw AS DOUBLE) / pref.bv) +
             |           (30 / 100.0) * (CAST(uni.uw AS DOUBLE) / tot.utot) END) * 1000000) AS BIGINT) AS q
             |  FROM tk JOIN uni USING (w) CROSS JOIN tot
             |  LEFT JOIN bi ON tk.v = bi.v AND tk.w = bi.w
             |  LEFT JOIN pref ON tk.v = pref.v)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(q) AS BIGINT) AS sum_surprisal_q,
             |  CAST(sum(q) AS DOUBLE) / 1000000.0 / count(*) AS avg_surprisal
             |FROM sq GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X4: rolling-hash document fingerprint ----
    ("x4_fingerprint",
      (s: SparkSession, dir: String) => {
        TextOps.fingerprint(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split(text, ' '),
             |        t -> CAST(ascii(substr(t, 1, 1)) * 256 + length(t) AS BIGINT))),
             |    (h, t) -> (h * 1000003 + t) % 2147483647) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- PRODUCTION-hash twin of x4_fingerprint: the rolling hash
    // (bounded to 31 bits by its modulus — fine for ordering, weak
    // dispersion for table addressing) finalized through xxhash64 into
    // a full-width uniformly-dispersed 64-bit fingerprint — the
    // avalanche step a production fingerprint store keys on. The
    // long-XXH64 replica replays the finalization exactly. ----
    ("x4_fingerprint_prod",
      (s: SparkSession, dir: String) => {
        TextOps.fingerprint(Tables.load(s, dir, "documents"), "doc_id", "text")
          .select(col("doc_id"), xxhash64(col("fp")).as("fp64"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH fp0 AS (SELECT doc_id,
             |    list_reduce(
             |      list_prepend(CAST(0 AS BIGINT),
             |        list_transform(string_split(text, ' '),
             |          t -> CAST(ascii(substr(t, 1, 1)) * 256 + length(t) AS BIGINT))),
             |      (h, t) -> (h * 1000003 + t) % 2147483647) AS fp
             |  FROM documents),
             |${xxh64Stages("hxs", "fp0", Seq("doc_id"), "CAST(fp AS HUGEINT)", "42")}
             |SELECT doc_id, xx64 AS fp64 FROM hxs ORDER BY doc_id""".stripMargin)),

    // ---- X5: multimodal blob metadata (binary column plumbing) ----
    ("x5_multimodal_meta",
      (s: SparkSession, dir: String) => {
        MultimodalOps.documentsAsBlobs(Tables.load(s, dir, "documents"), "doc_id", "text")
          .select(col("doc_id"),
            octet_length(col("blob")).cast("long").as("blob_len"),
            upper(substring(hex(col("blob")), 1, 16)).as("header_hex"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS blob_len,
             |  upper(substr(hex(encode(text)), 1, 16)) AS header_hex
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X5: stubbed media decode through mapPartitions. The fake
    // decoder is deterministic byte arithmetic over the blob (ASCII
    // text cast to binary), so the oracle recomputes it byte-for-byte
    // with ord()/strlen in SQL — the mapPartitions plumbing is what's
    // actually under test ----
    ("x5_decode_stub",
      (s: SparkSession, dir: String) => {
        MultimodalOps.decodeBlobs(
            MultimodalOps.documentsAsBlobs(Tables.load(s, dir, "documents"), "doc_id", "text"),
            "doc_id", "blob")
          .toDF()
          .orderBy(col("doc_id"))
      },
      Some("""WITH m AS (SELECT doc_id, strlen(text) AS n,
             |    CASE WHEN strlen(text) > 0 THEN ord(substr(text, 1, 1)) ELSE 0 END AS b0,
             |    CASE WHEN strlen(text) > 1 THEN ord(substr(text, 2, 1)) ELSE 0 END AS b1,
             |    COALESCE(CAST(list_sum(list_transform(range(1, strlen(text) + 1),
             |      i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT), 0) AS s
             |  FROM documents)
             |SELECT doc_id, CAST(n AS BIGINT) AS blob_len,
             |  CAST((b0 * 256 + b1) % 1024 AS INT) AS width,
             |  CAST((b1 * 256 + b0) % 1024 AS INT) AS height,
             |  CAST(1 + (b0 % 3) AS INT) AS channels,
             |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(s AS DOUBLE) / n END AS mean_byte
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- X5: stubbed resize — deterministic byte subsampling to w*h
    // bytes; the query digests the resized blob (sum/first/last of
    // unsigned bytes) so DuckDB can recompute it byte-exactly from the
    // source text via the same index arithmetic ----
    ("x5_resize",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        MultimodalOps.resizeMedia(
            MultimodalOps.documentsAsBlobs(Tables.load(s, dir, "documents"), "doc_id", "text"),
            "doc_id", "blob", w = 8, h = 4)
          .map(r => (r.doc_id, r.width, r.height,
            r.blob.map(b => (b & 0xFF).toLong).sum,
            if (r.blob.nonEmpty) r.blob.head & 0xFF else 0,
            if (r.blob.nonEmpty) r.blob.last & 0xFF else 0))
          .toDF("doc_id", "width", "height", "byte_sum", "first_byte", "last_byte")
          .orderBy(col("doc_id"))
      },
      Some("""WITH m AS (SELECT doc_id, strlen(text) AS n, text FROM documents)
             |SELECT doc_id, CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
             |  CASE WHEN n = 0 THEN 0 ELSE CAST(list_sum(list_transform(range(0, 32),
             |    i -> ord(substr(text, CAST((i * n) // 32 + 1 AS INT), 1)))) AS BIGINT) END AS byte_sum,
             |  CAST(CASE WHEN n = 0 THEN 0 ELSE ord(substr(text, 1, 1)) END AS INT) AS first_byte,
             |  CAST(CASE WHEN n = 0 THEN 0 ELSE ord(substr(text, CAST((31 * n) // 32 + 1 AS INT), 1)) END AS INT) AS last_byte
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- X5: stubbed feature extraction. The fake features are a
    // normalized byte histogram computed in FLOAT on the Spark side;
    // the oracle mirrors the float division exactly (FLOAT/FLOAT is
    // IEEE-identical on both engines) before widening and rounding ----
    ("x5_features",
      (s: SparkSession, dir: String) => {
        MultimodalOps.extractFeatures(
            MultimodalOps.documentsAsBlobs(Tables.load(s, dir, "documents"), "doc_id", "text"),
            "doc_id", "blob")
          .toDF()
          .select(col("doc_id"), round(element_at(col("features"), 2).cast("double"), 6).as("f2"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH m AS (SELECT doc_id, strlen(text) AS n,
             |    COALESCE(CAST(list_sum(list_transform(range(1, strlen(text) + 1),
             |      i -> CASE WHEN ord(substr(text, CAST(i AS INT), 1)) // 32 = 1 THEN 1 ELSE 0 END)) AS BIGINT), 0) AS c
             |  FROM documents)
             |SELECT doc_id,
             |  round(CAST(CAST(c AS FLOAT) / CAST(greatest(n, 1) AS FLOAT) AS DOUBLE), 6) AS f2
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- X5: frame sampling (one-to-many explode of a binary column) ----
    ("x5_frame_sample",
      (s: SparkSession, dir: String) => {
        MultimodalOps.sampleFrames(
            MultimodalOps.documentsAsBlobs(Tables.load(s, dir, "documents"), "doc_id", "text"),
            "doc_id", "blob", frameSize = 16, stride = 2)
          .toDF()
          .select(col("doc_id"), col("frame_no"),
            octet_length(col("frame")).cast("long").as("frame_len"))
          .orderBy(col("doc_id"), col("frame_no"))
      },
      Some("""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
             |f AS (SELECT doc_id, unnest(range(0, n // 16)) AS frame_no FROM b WHERE n >= 16)
             |SELECT doc_id, CAST(frame_no AS INT) AS frame_no, CAST(16 AS BIGINT) AS frame_len
             |FROM f WHERE frame_no % 2 = 0 ORDER BY doc_id, frame_no""".stripMargin)),

    // ---- X5: REAL video container metadata — each doc synthesizes a
    // genuine ISO-BMFF file through the real writer (ftyp/mdat/moov
    // with full sample tables, audio track on even ids) and the query
    // recovers brand, movie clock, per-track handler/codec fourcc,
    // timescale, duration, dimensions, sample/sync counts and payload
    // bytes via the real box walk (llm/VideoCodec.parseMp4). The
    // oracle replays the integer GENERATOR spec — so writer + parser
    // must round-trip every container field exactly (the AudioCodec
    // pattern; VideoCodecSpec additionally pins the parser on
    // hand-built and malformed files). ----
    ("x5_video_meta",
      (s: SparkSession, dir: String) => {
        MultimodalOps.videoMeta(
            MultimodalOps.documentsAsVideo(Tables.load(s, dir, "documents"), "doc_id"),
            "doc_id", "blob")
          .orderBy(col("doc_id"), col("track_id"))
      },
      Some("""WITH v AS (SELECT doc_id, 24 + doc_id % 48 AS nv FROM documents),
             |sz AS (SELECT doc_id, CAST(sum(64 + (doc_id * 7 + i * 13) % 96) AS BIGINT) AS sample_bytes
             |       FROM (SELECT doc_id, unnest(range(0, nv)) AS i FROM v) GROUP BY doc_id),
             |movie AS (SELECT v.doc_id, v.nv, 'isom' AS brand,
             |    CAST(600 AS BIGINT) AS movie_timescale,
             |    CAST(CASE WHEN v.doc_id % 2 = 0 THEN 3072 ELSE v.nv * 25 END AS BIGINT) AS movie_duration
             |  FROM v),
             |vid AS (SELECT m.doc_id, m.brand, m.movie_timescale, m.movie_duration,
             |    CAST(1 AS BIGINT) AS track_id, 'vide' AS handler,
             |    CASE WHEN m.doc_id % 3 = 0 THEN 'hev1' ELSE 'avc1' END AS codec,
             |    CAST(600 AS BIGINT) AS timescale, CAST(m.nv * 25 AS BIGINT) AS duration,
             |    CAST(320 + (m.doc_id % 8) * 16 AS INT) AS width,
             |    CAST(240 + (m.doc_id % 5) * 16 AS INT) AS height,
             |    CAST(m.nv AS BIGINT) AS n_samples,
             |    CAST((m.nv + 11) // 12 AS BIGINT) AS n_sync,
             |    sz.sample_bytes
             |  FROM movie m JOIN sz ON sz.doc_id = m.doc_id),
             |aud AS (SELECT m.doc_id, m.brand, m.movie_timescale, m.movie_duration,
             |    CAST(2 AS BIGINT) AS track_id, 'soun' AS handler, 'mp4a' AS codec,
             |    CAST(8000 AS BIGINT) AS timescale, CAST(40960 AS BIGINT) AS duration,
             |    CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
             |    CAST(40 AS BIGINT) AS n_samples, CAST(40 AS BIGINT) AS n_sync,
             |    CAST(1280 AS BIGINT) AS sample_bytes
             |  FROM movie m WHERE m.doc_id % 2 = 0)
             |SELECT * FROM (SELECT * FROM vid UNION ALL SELECT * FROM aud)
             |ORDER BY doc_id, track_id""".stripMargin)),

    // ---- X5: REAL keyframe sampling — demux each blob's video track
    // (full stsc/stco/stsz walk for sample offsets) and emit one row
    // per stss sync sample with the exact byte range's length and sum.
    // The oracle replays the generator's per-byte arithmetic, so a
    // one-byte-off demux slice hash-mismatches. This retires the
    // byte-chunk stub as the video story (x5_frame_sample stays as the
    // labeled fake-decode plumbing twin). ----
    ("x5_video_frames",
      (s: SparkSession, dir: String) => {
        MultimodalOps.sampleSyncFrames(
            MultimodalOps.documentsAsVideo(Tables.load(s, dir, "documents"), "doc_id"),
            "doc_id", "blob")
          .orderBy(col("doc_id"), col("sample_no"))
      },
      Some("""WITH v AS (SELECT doc_id, 24 + doc_id % 48 AS nv FROM documents),
             |s AS (SELECT doc_id, unnest(range(0, nv)) AS i FROM v),
             |k AS (SELECT doc_id, i, 64 + (doc_id * 7 + i * 13) % 96 AS len FROM s WHERE i % 12 = 0),
             |b AS (SELECT doc_id, i, len,
             |    CAST(sum((doc_id + i * 31 + j * 7) % 256) AS BIGINT) AS byte_sum
             |  FROM (SELECT doc_id, i, len, unnest(range(0, len)) AS j FROM k)
             |  GROUP BY doc_id, i, len)
             |SELECT doc_id, CAST(i + 1 AS INT) AS sample_no,
             |  CAST(len AS BIGINT) AS frame_len, byte_sum
             |FROM b ORDER BY doc_id, sample_no""".stripMargin)),

    // ---- X5: REAL compressed-video PIXEL decode — motion-JPEG: each
    // doc synthesizes a real MP4 whose video samples are REAL JPEG
    // interchange streams (QuickTime 'jpeg' sample entry) through the
    // JDK encoder; the query demuxes the stss keyframes and decodes
    // them through the REAL JDK JPEG codec
    // (llm/MultimodalOps.documentsAsMjpeg / videoFrameRefError). JPEG
    // is lossy, so the decoded pixels can't be replayed in SQL — the
    // oracle pins every container-exact field (codec fourcc, decoded
    // dims, pixel count, keyframe cadence) and the PSNR-floor verdict
    // (max |decoded luma − source spec| ≤ 16 on the smooth gradient;
    // measured = 1 at the JDK's default quality over 200 ids × all
    // keyframes — the bound leaves 16× margin, and both sides of the
    // gate run the same JDK). The
    // pixel-EXACT twin is x5_video_pixels_png below. This retires the
    // "compressed-video pixel decode needs codec libs" stub for the
    // one video codec the JVM ships. ----
    ("x5_video_pixels",
      (s: SparkSession, dir: String) => {
        MultimodalOps.videoFrameRefError(
            MultimodalOps.documentsAsMjpeg(Tables.load(s, dir, "documents"), "doc_id", "jpg"),
            "doc_id", "blob")(MultimodalOps.mjpegFramePixel)
          .select(col("doc_id"), col("codec"), col("sample_no"),
            col("width"), col("height"), col("n_px"),
            (col("max_abs_err") <= 16).as("err_le_16"))
          .orderBy(col("doc_id"), col("sample_no"))
      },
      Some("""WITH d AS (SELECT doc_id, 32 + (doc_id % 4) * 16 AS w,
             |    24 + (doc_id % 3) * 8 AS h, 6 + doc_id % 6 AS nf FROM documents),
             |k AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM d)
             |SELECT doc_id, 'jpeg' AS codec, CAST(f + 1 AS INT) AS sample_no,
             |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             |  CAST(w * h AS BIGINT) AS n_px, TRUE AS err_le_16
             |FROM k WHERE f % 3 = 0 ORDER BY doc_id, sample_no""".stripMargin)),

    // ---- X5: pixel-EXACT compressed-video decode twin — same demux +
    // real-codec decode path on a 'png ' video track (QuickTime PNG
    // codec; PNG is lossless), so the integer rec-601 gray sum of
    // every decoded keyframe replays in SQL via the closed-form frame
    // spec Σv = w·h·((f + id mod 8) + (w−1) + (h−1))
    // (llm/MultimodalOps.videoFramePixels; gray pixels decode to luma
    // v exactly). Together with x5_video_pixels this pins the decode
    // path twice: bounded on the lossy codec, bit-exact on the
    // lossless one. ----
    ("x5_video_pixels_png",
      (s: SparkSession, dir: String) => {
        MultimodalOps.videoFramePixels(
            MultimodalOps.documentsAsMjpeg(Tables.load(s, dir, "documents"), "doc_id", "png"),
            "doc_id", "blob")
          .orderBy(col("doc_id"), col("sample_no"))
      },
      Some("""WITH d AS (SELECT doc_id, 32 + (doc_id % 4) * 16 AS w,
             |    24 + (doc_id % 3) * 8 AS h, 6 + doc_id % 6 AS nf FROM documents),
             |k AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM d)
             |SELECT doc_id, 'png ' AS codec, CAST(f + 1 AS INT) AS sample_no,
             |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             |  CAST(w * h AS BIGINT) AS n_px,
             |  CAST(w * h * ((f + doc_id % 8) + (w - 1) + (h - 1)) AS BIGINT) AS gray_sum
             |FROM k WHERE f % 3 = 0 ORDER BY doc_id, sample_no""".stripMargin)),

    // ---- X5: REAL image decode — each doc synthesizes a genuine PNG
    // through the JDK encoder (grayscale-in-RGB, integer pixel spec)
    // and the query recovers dimensions, channel count, and the
    // integer rec-601 luma sum via the REAL javax.imageio pixel decode
    // (llm/MultimodalOps.decodeImagesExact). The oracle replays the
    // integer generator spec — so encoder + decoder must round-trip
    // every pixel exactly (the AudioCodec pattern; PNG is lossless).
    // ALL-INTEGER outputs: a rounded float mean (the earlier form)
    // could straddle a rounding boundary within summation-order ulps;
    // luma_sum + n_px carry the same information exactly (for gray
    // pixels rec-601 luma is v itself: (299+587+114)·v/1000 = v). ----
    ("x5_image_meta",
      (s: SparkSession, dir: String) => {
        MultimodalOps.decodeImagesExact(
            MultimodalOps.documentsAsImages(Tables.load(s, dir, "documents"), "doc_id"),
            "doc_id", "blob")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |           FROM documents),
             |px AS (SELECT doc_id, w, h,
             |         (doc_id * 31 + (i // w) * 13 + (i % w) * 7) % 256 AS v
             |       FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d))
             |SELECT doc_id, CAST(any_value(w) AS INT) AS width,
             |  CAST(any_value(h) AS INT) AS height, CAST(3 AS INT) AS channels,
             |  CAST(sum(v) AS BIGINT) AS luma_sum, CAST(count(*) AS BIGINT) AS n_px
             |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X5: REAL classical image features — 8-bin gray histogram,
    // gray mass, Sobel edge energy over REAL decoded pixels
    // (llm/MultimodalOps.imageFeatures). Integer rec-601 luma makes
    // every output exact integer arithmetic, so the oracle replays the
    // whole feature pass (including the 3×3 Sobel stencil) from the
    // generator spec with zero float drift. This retires the
    // byte-histogram STUB as the feature story (x5_features stays as
    // the labeled encoder-plumbing twin). ----
    ("x5_image_features",
      (s: SparkSession, dir: String) => {
        MultimodalOps.imageFeatures(
            MultimodalOps.documentsAsImages(Tables.load(s, dir, "documents"), "doc_id"),
            "doc_id", "blob")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, doc_id * 31 AS a,
             |    16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h FROM documents),
             |px AS (SELECT doc_id, a, w, h, i % w AS x, i // w AS y,
             |         (a + (i // w) * 13 + (i % w) * 7) % 256 AS v
             |       FROM (SELECT doc_id, a, w, h, unnest(range(0, w * h)) AS i FROM d)),
             |f AS (SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
             |        CAST(count(*) AS BIGINT) AS n_px,
             |        CAST(sum(v) AS BIGINT) AS gray_sum,
             |        CAST(count(CASE WHEN v // 32 = 0 THEN 1 END) AS BIGINT) AS h0,
             |        CAST(count(CASE WHEN v // 32 = 1 THEN 1 END) AS BIGINT) AS h1,
             |        CAST(count(CASE WHEN v // 32 = 2 THEN 1 END) AS BIGINT) AS h2,
             |        CAST(count(CASE WHEN v // 32 = 3 THEN 1 END) AS BIGINT) AS h3,
             |        CAST(count(CASE WHEN v // 32 = 4 THEN 1 END) AS BIGINT) AS h4,
             |        CAST(count(CASE WHEN v // 32 = 5 THEN 1 END) AS BIGINT) AS h5,
             |        CAST(count(CASE WHEN v // 32 = 6 THEN 1 END) AS BIGINT) AS h6,
             |        CAST(count(CASE WHEN v // 32 = 7 THEN 1 END) AS BIGINT) AS h7
             |      FROM px GROUP BY doc_id),
             |e AS (SELECT p.doc_id,
             |        CAST(sum(abs(
             |          ((p.a + (p.y - 1) * 13 + (p.x + 1) * 7) % 256
             |            + 2 * ((p.a + p.y * 13 + (p.x + 1) * 7) % 256)
             |            + (p.a + (p.y + 1) * 13 + (p.x + 1) * 7) % 256)
             |          - ((p.a + (p.y - 1) * 13 + (p.x - 1) * 7) % 256
             |            + 2 * ((p.a + p.y * 13 + (p.x - 1) * 7) % 256)
             |            + (p.a + (p.y + 1) * 13 + (p.x - 1) * 7) % 256))
             |        + abs(
             |          ((p.a + (p.y + 1) * 13 + (p.x - 1) * 7) % 256
             |            + 2 * ((p.a + (p.y + 1) * 13 + p.x * 7) % 256)
             |            + (p.a + (p.y + 1) * 13 + (p.x + 1) * 7) % 256)
             |          - ((p.a + (p.y - 1) * 13 + (p.x - 1) * 7) % 256
             |            + 2 * ((p.a + (p.y - 1) * 13 + p.x * 7) % 256)
             |            + (p.a + (p.y - 1) * 13 + (p.x + 1) * 7) % 256))) AS BIGINT) AS edge_energy
             |      FROM px p
             |      WHERE p.x BETWEEN 1 AND p.w - 2 AND p.y BETWEEN 1 AND p.h - 2
             |      GROUP BY p.doc_id)
             |SELECT f.doc_id, CAST(f.w AS INT) AS width, CAST(f.h AS INT) AS height,
             |  f.n_px, f.gray_sum, f.h0, f.h1, f.h2, f.h3, f.h4, f.h5, f.h6, f.h7,
             |  e.edge_energy
             |FROM f JOIN e ON e.doc_id = f.doc_id
             |ORDER BY f.doc_id""".stripMargin)),

    // ---- X5: REAL spec-exact resize — integer box-filter downsample
    // (factor 4, floor-mean per full 4×4 block) over REAL decoded
    // pixels, re-encoded through the REAL PNG writer, then the OUTPUT
    // blob is decoded AGAIN and digested through imageFeatures — so
    // the oracle checks the full encode→decode→filter→encode→decode
    // chain with zero inexact steps (llm/MultimodalOps
    // .downsampleImages). This retires the byte-subsample STUB as the
    // resize story (x5_resize stays as the labeled plumbing twin;
    // ImageCodec.resizePng remains the renderer-defined bilinear). ----
    ("x5_image_resize",
      (s: SparkSession, dir: String) => {
        MultimodalOps.imageFeatures(
            MultimodalOps.downsampleImages(
              MultimodalOps.documentsAsImages(Tables.load(s, dir, "documents"), "doc_id"),
              "doc_id", "blob", factor = 4),
            "doc_id", "blob")
          .select(col("doc_id"), col("width"), col("height"), col("n_px"),
            col("gray_sum"), col("h0"), col("h1"), col("h2"), col("h3"),
            col("h4"), col("h5"), col("h6"), col("h7"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, doc_id * 31 AS a,
             |    (16 + doc_id % 8) // 4 AS ow, (12 + doc_id % 5) // 4 AS oh
             |  FROM documents),
             |g AS (SELECT doc_id, a, ow, oh, c % ow AS cx, c // ow AS cy
             |      FROM (SELECT doc_id, a, ow, oh, unnest(range(0, ow * oh)) AS c FROM d)),
             |b AS (SELECT doc_id, ow, oh, cx, cy,
             |        CAST(sum((a + (cy * 4 + j // 4) * 13 + (cx * 4 + j % 4) * 7) % 256)
             |             AS BIGINT) // 16 AS vq
             |      FROM (SELECT doc_id, a, ow, oh, cx, cy, unnest(range(0, 16)) AS j FROM g)
             |      GROUP BY doc_id, ow, oh, cx, cy)
             |SELECT doc_id, CAST(any_value(ow) AS INT) AS width,
             |  CAST(any_value(oh) AS INT) AS height,
             |  CAST(count(*) AS BIGINT) AS n_px,
             |  CAST(sum(vq) AS BIGINT) AS gray_sum,
             |  CAST(count(CASE WHEN vq // 32 = 0 THEN 1 END) AS BIGINT) AS h0,
             |  CAST(count(CASE WHEN vq // 32 = 1 THEN 1 END) AS BIGINT) AS h1,
             |  CAST(count(CASE WHEN vq // 32 = 2 THEN 1 END) AS BIGINT) AS h2,
             |  CAST(count(CASE WHEN vq // 32 = 3 THEN 1 END) AS BIGINT) AS h3,
             |  CAST(count(CASE WHEN vq // 32 = 4 THEN 1 END) AS BIGINT) AS h4,
             |  CAST(count(CASE WHEN vq // 32 = 5 THEN 1 END) AS BIGINT) AS h5,
             |  CAST(count(CASE WHEN vq // 32 = 6 THEN 1 END) AS BIGINT) AS h6,
             |  CAST(count(CASE WHEN vq // 32 = 7 THEN 1 END) AS BIGINT) AS h7
             |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X5+X2: REAL DCT perceptual hash in the candidate→verify
    // dedup shape — pHash (grayscale → 32×32 area resize → 2D DCT-II →
    // median-bit code, ImageCodec.pHash) over REAL decoded PNG pixels
    // generates candidates via the SimHash chunk banding at Hamming 0,
    // then candidates VERIFY by exact blob bytes (the standard
    // LSH-verify contract: identical pixels ⇒ identical pHash gives
    // recall 1.0 on exact dups; verification kills the hash's false
    // positives, which ARE real here — the structured pixel field
    // collides ~6 distinct low-frequency gradients at sf0.01). The
    // float DCT can't be replayed in SQL; the VERIFIED duplicate set
    // can: the pixel field repeats exactly iff doc_id ≡ doc_id'
    // (mod 1280) (dims cycle mod 8 and mod 5; 31·id mod 256 cycles
    // mod 256 since 31 is odd ⇒ lcm(256, 40) = 1280). ----
    ("x5_image_phash_dups",
      (s: SparkSession, dir: String) => {
        val blobs = MultimodalOps.documentsAsImages(
          Tables.load(s, dir, "documents"), "doc_id")
        val fps = MultimodalOps.pHashImages(blobs, "doc_id", "blob")
        val cand = DedupOps.simHashPairs(fps, maxHamming = 0)
          .select(col("doc1"), col("doc2"))
        cand
          .join(blobs.select(col("doc_id").as("doc1"), col("blob").as("b1")), "doc1")
          .join(blobs.select(col("doc_id").as("doc2"), col("blob").as("b2")), "doc2")
          .filter(col("b1") === col("b2"))
          .select(col("doc1"), col("doc2"))
          .orderBy(col("doc1"), col("doc2"))
      },
      Some("""SELECT a.doc_id AS doc1, b.doc_id AS doc2
             |FROM documents a JOIN documents b
             |  ON a.doc_id < b.doc_id AND (b.doc_id - a.doc_id) % 1280 = 0
             |ORDER BY doc1, doc2""".stripMargin)),

    // ---- X5/X6: streaming image dedup gate run over the batch rows —
    // incoming images (doc_id % 7 = 3; 1280 ∤ 7's multiples, so dup
    // groups CROSS the slice boundary) probe the PERSISTED pHash
    // fingerprint table at Hamming 0 and byte-verify against the
    // corpus blobs. Completes the stateless ingest-gate quartet
    // (Bloom / ANN / MinHash / pHash); StreamOpsSpec pins MemoryStream
    // == this batch twin. Oracle = the provable duplicate set
    // (pixel field repeats iff ids ≡ mod 1280), exact despite real
    // pHash collisions because the gate byte-verifies
    // (llm/MultimodalOps.pHashGate, streaming/StreamOps
    // .imageGateStream). ----
    ("x6_image_gate",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val corpusBlobs = MultimodalOps.documentsAsImages(
          docs.filter(col("doc_id") % 7 =!= 3), "doc_id")
        val fps = MultimodalOps.loadOrBuildPhashGate(corpusBlobs, "doc_id", "blob",
          phashGatePath(dir))
        StreamOps.imageGateStream(
            MultimodalOps.documentsAsImages(docs.filter(col("doc_id") % 7 === 3), "doc_id"),
            fps, corpusBlobs)
          .orderBy(col("in_id"), col("corpus_id"))
      },
      Some("""SELECT a.doc_id AS in_id, b.doc_id AS corpus_id
             |FROM documents a JOIN documents b
             |  ON a.doc_id % 7 = 3 AND b.doc_id % 7 <> 3
             | AND abs(a.doc_id - b.doc_id) % 1280 = 0 AND a.doc_id <> b.doc_id
             |ORDER BY in_id, corpus_id""".stripMargin)),

    // ---- X5: multimodal CURATION PIPELINE — the media sibling of
    // x4_curation_pipeline_v2: pHash-candidate + byte-verified dedup
    // (keep-earliest) → decoded-pixel quality gate (integer gray-mass
    // band + min-width rule over REAL decoded pixels) → pixel-budget
    // greedy packing, all in ONE lazy plan (Catalyst shares the image
    // scan between the fingerprint and feature passes and plans the
    // anti-join/join chain together). The oracle replays every stage:
    // the verified dup set is provable (pixel field repeats iff ids ≡
    // mod 1280 — see x5_image_phash_dups), the quality gate is exact
    // integer arithmetic on the generator spec, the packing is the
    // same windowed integer prefix sum. Pins that the X5 media ops
    // COMPOSE like the X4 text ops do. ----
    ("x5_curation_pipeline",
      (s: SparkSession, dir: String) => {
        val blobs = MultimodalOps.documentsAsImages(
          Tables.load(s, dir, "documents"), "doc_id")
        val fps = MultimodalOps.pHashImages(blobs, "doc_id", "blob")
        val dupOf = DedupOps.simHashPairs(fps, maxHamming = 0)
          .select(col("doc1"), col("doc2"))
          .join(blobs.select(col("doc_id").as("doc1"), col("blob").as("b1")), "doc1")
          .join(blobs.select(col("doc_id").as("doc2"), col("blob").as("b2")), "doc2")
          .filter(col("b1") === col("b2"))
          .select(col("doc2").as("doc_id")).distinct()
        val kept = blobs.join(dupOf, Seq("doc_id"), "left_anti")
        val quality = MultimodalOps.imageFeatures(kept, "doc_id", "blob")
          .filter(col("gray_sum") >= col("n_px") * 112 &&
            col("gray_sum") <= col("n_px") * 138 && col("width") >= 17)
          .select(col("doc_id"), col("n_px"))
        MultimodalOps.packByWeight(quality, "doc_id", "n_px",
            budget = 4096L, shards = 4)
          .orderBy(col("doc_id"))
      },
      Some("""WITH keep AS (SELECT doc_id, doc_id * 31 AS a,
             |    16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents d
             |  WHERE NOT EXISTS (SELECT 1 FROM documents o
             |    WHERE o.doc_id < d.doc_id AND (d.doc_id - o.doc_id) % 1280 = 0)),
             |px AS (SELECT doc_id, w, h, (a + (i // w) * 13 + (i % w) * 7) % 256 AS v
             |       FROM (SELECT doc_id, a, w, h, unnest(range(0, w * h)) AS i FROM keep)),
             |f AS (SELECT doc_id, any_value(w) AS w,
             |        CAST(count(*) AS BIGINT) AS n_px, CAST(sum(v) AS BIGINT) AS gray_sum
             |      FROM px GROUP BY doc_id),
             |q AS (SELECT doc_id, n_px AS weight FROM f
             |      WHERE gray_sum >= n_px * 112 AND gray_sum <= n_px * 138 AND w >= 17),
             |t AS (SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS shard, weight FROM q),
             |c AS (SELECT doc_id, shard, weight,
             |        CAST(COALESCE(sum(weight) OVER (PARTITION BY shard ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |      FROM t)
             |SELECT doc_id, shard, weight, CAST(cum_before // 4096 AS BIGINT) AS pack_id
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- X6: sliding time window ----
    ("x6_sliding_window",
      (s: SparkSession, dir: String) => {
        StreamOps.slidingAgg(Tables.load(s, dir, "events"), "1 hour", "30 minutes")
          .withColumn("sum_value", round(col("sum_value"), 4))
          .orderBy(col("ws"), col("event_type"))
      },
      Some("""SELECT time_bucket(INTERVAL '30 minutes', ts) - k.k * INTERVAL '30 minutes' AS ws,
             |  event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
             |FROM events e, (VALUES (0), (1)) k(k)
             |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // ---- as-of join: latest view value at-or-before each click ----
    ("j_asof",
      (s: SparkSession, dir: String) => {
        val e = Tables.load(s, dir, "events")
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        graft.dfw.AsofOps.asofJoin(clicks, views, Seq("user_id"), "ts", "event_id", Seq("value"))
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
            col("value"), col("value_asof"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value, event_type FROM events),
             |u AS (
             |  SELECT user_id, event_id, us, value, 1 AS side, CAST(NULL AS DOUBLE) AS p
             |  FROM e WHERE event_type = 'click'
             |  UNION ALL
             |  SELECT user_id, event_id, us, value, 0 AS side, value AS p
             |  FROM e WHERE event_type = 'view'),
             |f AS (SELECT *, last_value(p IGNORE NULLS) OVER (
             |        PARTITION BY user_id ORDER BY us, side, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_asof FROM u)
             |SELECT user_id, event_id, us, value, value_asof FROM f WHERE side = 1
             |ORDER BY user_id, event_id""".stripMargin)),

    // ---- J: point-in-time feature join with a 1-hour embargo — the
    // feature-store training-set builder with leakage protection
    // (features computed < 1 h before the label are not yet servable,
    // so training on them leaks); feature side time-shifted +embargo
    // then the as-of union trick, one keyed shuffle
    // (dfw/AsofOps.pitFeatureJoin). ----
    ("j_pit_features",
      (s: SparkSession, dir: String) => {
        val e = Tables.load(s, dir, "events")
        val labels = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        val features = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        graft.dfw.AsofOps.pitFeatureJoin(labels, features, Seq("user_id"),
            "ts", "event_id", Seq("value"), embargoSeconds = 3600L)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
            col("value"), col("value_asof"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value, event_type FROM events),
             |u AS (
             |  SELECT user_id, event_id, us, value, 1 AS side, CAST(NULL AS DOUBLE) AS p
             |  FROM e WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT user_id, event_id, us + 3600000000, value, 0 AS side, value AS p
             |  FROM e WHERE event_type = 'view'),
             |f AS (SELECT *, last_value(p IGNORE NULLS) OVER (
             |        PARTITION BY user_id ORDER BY us, side, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_asof FROM u)
             |SELECT user_id, event_id, us, value, value_asof FROM f WHERE side = 1
             |ORDER BY user_id, event_id""".stripMargin)),

    // ---- X6: stream-static POINT-IN-TIME enrichment — clicks pick
    // the per-user daily feature VERSION valid at their own event
    // day from the SCD-2 interval table (the serving half of the
    // feature-store story; j_pit_features is the training half);
    // stateless stream-static broadcast join
    // (streaming/StreamOps.enrichPointInTime over
    // dfw/MergeOps.scdHistory intervals). ----
    ("x6_pit_enrich",
      (s: SparkSession, dir: String) => {
        val ev = Tables.load(s, dir, "events")
        val dayNo = datediff(to_date(col("ts")), lit("2024-01-01")).cast("long")
        val changes = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), dayNo.as("version"))
          .agg(expr("sum(cast(round(value * 1000000) as bigint)) div count(1)")
            .as("feature_q"))
          .withColumn("op", lit("upsert"))
        val hist = MergeOps.scdHistory(changes, "user_id", "version", "op")
          .select(col("user_id").as("h_uid"), col("valid_from"),
            col("valid_to"), col("feature_q"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), dayNo.as("day_no"),
            round(col("value"), 4).as("value"))
        StreamOps.enrichPointInTime(clicks, hist, "user_id", "h_uid",
            col("day_no"), Seq("feature_q"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS DATE) AS d, value, event_type FROM events),
             |ch AS (SELECT user_id,
             |    CAST(date_diff('day', DATE '2024-01-01', d) AS BIGINT) AS version,
             |    CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             |      // CAST(count(*) AS BIGINT) AS feature_q
             |  FROM e WHERE event_type = 'view' GROUP BY 1, 2),
             |h AS (SELECT user_id, version AS valid_from,
             |    lead(version) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
             |    feature_q FROM ch),
             |c AS (SELECT user_id, event_id,
             |    CAST(date_diff('day', DATE '2024-01-01', d) AS BIGINT) AS day_no,
             |    round(value, 4) AS value FROM e WHERE event_type = 'click')
             |SELECT c.user_id, c.event_id, c.day_no, c.value, h.feature_q AS feature_q_pit
             |FROM c LEFT JOIN h ON h.user_id = c.user_id AND c.day_no >= h.valid_from
             |  AND (h.valid_to IS NULL OR c.day_no < h.valid_to)
             |ORDER BY c.user_id, c.event_id""".stripMargin)),

    // ---- X6: gap-based sessionization (batch twin of session_window) ----
    ("x6_sessionize",
      (s: SparkSession, dir: String) => {
        StreamOps.sessionizeBatch(Tables.load(s, dir, "events"), gapMinutes = 10)
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
             |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
             |x AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 600000000 THEN 1 ELSE 0 END AS new_s FROM l),
             |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM x)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             |  CAST(count(*) AS BIGINT) AS n_events, min(us) AS start_us, max(us) - min(us) AS dur_us
             |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),

    // ---- X6/F: one-row session engagement rollup — counts, bounce
    // ppm, exact p50/p90 duration via the rank-select quantile path
    // (session durations are nearly unique: the grain where
    // percentile()'s value→count map state grows with data); the
    // session table freezes once for its two consumers
    // (streaming/StreamOps.sessionStats). ----
    ("q_session_stats",
      (s: SparkSession, dir: String) => {
        StreamOps.sessionStats(Tables.load(s, dir, "events"), gapMinutes = 10)
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
             |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
             |x AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 600000000 THEN 1 ELSE 0 END AS new_s FROM l),
             |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM x),
             |g AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
             |        max(us) - min(us) AS dur_us
             |      FROM s GROUP BY user_id, session_id),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions,
             |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |        CAST(sum(n_events) AS BIGINT) AS n_events_total,
             |        CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
             |        CAST(sum(dur_us) AS BIGINT) AS sum_dur_us,
             |        round(quantile_cont(CAST(dur_us AS DOUBLE) / 1000000.0, 0.5), 4) AS p50_dur_s,
             |        round(quantile_cont(CAST(dur_us AS DOUBLE) / 1000000.0, 0.9), 4) AS p90_dur_s
             |      FROM g)
             |SELECT n_sessions, n_users, n_events_total, n_bounce,
             |  CASE WHEN n_sessions = 0 THEN CAST(0 AS BIGINT)
             |       ELSE (n_bounce * 1000000) // n_sessions END AS bounce_ppm,
             |  sum_dur_us, p50_dur_s, p90_dur_s
             |FROM a""".stripMargin)),

    // ---- X6: converged state of the flatMapGroupsWithState running
    // per-user stats — StreamOpsSpec pins that feeding ALL events
    // through StreamOps.runningUserStats (Update mode, MemoryStream
    // micro-batches) leaves exactly this per-user state; the batch
    // twin gives that converged state a driver-checkable oracle row.
    // Float discipline: value sums in arbitrary order, rounded on
    // both sides. ----
    ("x6_user_stats",
      (s: SparkSession, dir: String) => {
        StreamOps.userStatsBatch(Tables.load(s, dir, "events"))
          .withColumn("sum_value", round(col("sum_value"), 4))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |  round(sum(value), 4) AS sum_value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- X6: the streaming decontamination gate itself
    // (StreamOps.decontaminateStream = stateless per-row Bloom probe +
    // stream-static broadcast of the bitmap) run over the batch rows —
    // StreamOpsSpec pins stream == this on a real MemoryStream; the
    // md5 probe hash makes every probe position oracle-replayable
    // (same oracle as x2_bloom_decontam, which computes the identical
    // verdicts via the aggregated batch op — the two rows together pin
    // aggregated == stateless == oracle). ----
    ("x6_decontam_gate",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val bm = DedupOps.bloomBitmap(docs.filter(col("doc_id") % 20 === 0),
          w = 5, mBits = 1 << 20, k = 3,
          probeHash = (sh, i) =>
            DedupOps.md5TokenHash(concat_ws(":", sh, i.cast("string"))))
        StreamOps.decontaminateStream(docs.filter(col("doc_id") % 20 =!= 0), bm,
            w = 5, mBits = 1 << 20, k = 3,
            probeHashSql = (sh, i) =>
              s"CAST(conv(substring(md5(concat_ws(':', $sh, CAST($i AS STRING))), 1, 15), 16, 10) AS BIGINT)")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS sh FROM s0),
             |bits AS (SELECT DISTINCT
             |    CAST(('0x' || substr(md5(sh || ':' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 AS pos
             |  FROM sh, range(3) r(i) WHERE doc_id % 20 = 0),
             |tp AS (SELECT doc_id, sh,
             |    CAST(('0x' || substr(md5(sh || ':' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 AS pos
             |  FROM sh, range(3) r(i) WHERE doc_id % 20 <> 0),
             |pr AS (SELECT tp.doc_id, tp.sh,
             |    CAST(count(*) AS BIGINT) AS n_probe, CAST(count(b.pos) AS BIGINT) AS n_set
             |  FROM tp LEFT JOIN bits b ON tp.pos = b.pos GROUP BY tp.doc_id, tp.sh)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             |  CAST(sum(CASE WHEN n_set = n_probe THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             |  sum(CASE WHEN n_set = n_probe THEN 1 ELSE 0 END) > 0 AS flagged
             |FROM pr GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X6: the streaming decontamination gate on the PRODUCTION
    // hash — xxhash64(shingle, i) probes (decontaminateStream's
    // default), verdicts hash-checked via the string-XXH64 replica.
    // Shares bloomDecontamXxOracleSql with x2_bloom_decontam_prod:
    // aggregated batch op == stateless streaming form == oracle, all
    // on the hash a 100 TB ingest actually runs. ----
    ("x6_decontam_gate_prod",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val bm = DedupOps.bloomBitmap(docs.filter(col("doc_id") % 20 === 0),
          w = 5, mBits = 1 << 20, k = 3)
        StreamOps.decontaminateStream(docs.filter(col("doc_id") % 20 =!= 0), bm,
            w = 5, mBits = 1 << 20, k = 3)
          .orderBy(col("doc_id"))
      },
      Some(bloomDecontamXxOracleSql)),

    // ---- X6: streaming MinHash-LSH near-dup gate run over the batch
    // rows — completes the ingest-gate trio (Bloom contamination, ANN
    // embedding near-dup, text near-dup), all stateless against
    // persisted index artifacts. Incoming docs (doc_id%10=3) probe the
    // SAME stored shingle/banded tables the x2_minhash family shares;
    // shingling/signature/band hashes evaluate inside the row (HOFs,
    // no state store), pairs emit exactly once via the first-matching-
    // band rule, and every hit is exact-Jaccard verified. Same
    // exact-pair oracle logic as x2_minhash_lsh (banding recall 1.0
    // at r=4, measured — BASELINE.md); StreamOpsSpec pins MemoryStream
    // == this batch twin (llm/DedupOps.minHashGateIndexed). ----
    ("x6_neardup_gate",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val (bandedGate, shSets) = DedupOps.loadOrBuildMinHashGate(docs, "doc_id", "text",
          shingleW = 5, numHashes = 64, bands = 16, minhashIndexPath(dir))
        StreamOps.neardupGateStreamPrepared(docs.filter(col("doc_id") % 10 === 3),
            bandedGate, shSets, shingleW = 5, numHashes = 64, bands = 16, num = 1, den = 2)
          .orderBy(col("in_id"), col("corpus_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
             |z AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS in_id, b.doc_id AS corpus_id, count(*) AS inter
             |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id % 10 = 3 AND a.doc_id <> b.doc_id
             |      GROUP BY 1, 2)
             |SELECT in_id, corpus_id, CAST(inter AS BIGINT) AS inter,
             |  CAST(z1.n_sh + z2.n_sh - inter AS BIGINT) AS uni
             |FROM p JOIN z z1 ON z1.doc_id = in_id JOIN z z2 ON z2.doc_id = corpus_id
             |WHERE inter * 2 >= (z1.n_sh + z2.n_sh - inter)
             |ORDER BY in_id, corpus_id""".stripMargin)),

    // ---- X6: streaming ANN near-dup gate run over the batch rows —
    // incoming embeddings (vec_id%10=0) probe 4 buckets of the static
    // IVF-bucketed corpus (the rest); each emitted row is an
    // exact-verified near-dup hit. StreamOpsSpec pins MemoryStream ==
    // this batch twin. ORACLE-EXACT: the SQL replays both sides'
    // assignment from the persisted c64 index, the bucket join, and
    // the all-integer threshold — same pattern as x3_ann_ivf. ----
    ("x6_ann_gate",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        StreamOps.annGateStream(emb.filter(col("vec_id") % 10 === 0),
            emb.filter(col("vec_id") % 10 =!= 0),
            "vec_id", "embedding", num = 7, den = 20,
            centroids = embCentroids(s, dir, 64), nProbe = 4)
          .orderBy(col("query_id"), col("neighbor_id"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C64__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc),
             |corp AS (SELECT vec_id, q, n2, centroid_id FROM r WHERE rn = 1 AND vec_id % 10 <> 0),
             |pr AS (SELECT vec_id, q, n2, centroid_id FROM r WHERE rn <= 4 AND vec_id % 10 = 0),
             |e AS (SELECT pr.vec_id AS query_id, corp.vec_id AS neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(pr.q, corp.q), t -> t[1] * t[2])) AS BIGINT) AS dot,
             |        pr.n2 AS na, corp.n2 AS nb
             |      FROM pr JOIN corp USING (centroid_id) WHERE pr.vec_id <> corp.vec_id)
             |SELECT query_id, neighbor_id, CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine
             |FROM e WHERE na > 0 AND nb > 0 AND dot >= 0 AND dot * dot * 400 >= na * nb * 49
             |ORDER BY query_id, neighbor_id""".stripMargin)),

    // ---- X6: the ANN ingest gate against PERSISTED inverted lists —
    // the production streaming shape: the plain gate (above) re-buckets
    // the static corpus every micro-batch; here the corpus side is the
    // stored list table (built over the gate's FILTERED corpus, whose
    // sidecar signature carries the ADVICE-r7 plan hash — the
    // filtered-corpus case is exactly why query identity is in the
    // signature). Output identical to x6_ann_gate; the oracle reads
    // the persisted lists parquet directly. ----
    ("x6_ann_gate_indexed",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val lists = IvfIndex.loadOrBuildLists(emb.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", 64, kmeansIters = 2,
          embCentroids(s, dir, 64), ivfGateListsPath(dir, 64))
        StreamOps.annGateStreamIndexed(emb.filter(col("vec_id") % 10 === 0), lists,
            "vec_id", "embedding", num = 7, den = 20,
            centroids = embCentroids(s, dir, 64), nProbe = 4)
          .orderBy(col("query_id"), col("neighbor_id"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings WHERE vec_id % 10 = 0),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C64__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |pr AS (SELECT vec_id, q, n2, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |       WHERE rn <= 4),
             |corp AS (SELECT vec_id, "__qv" AS q, "__n2" AS n2, centroid_id
             |        FROM read_parquet('__GRAFT_IVF_G64__/*.parquet')),
             |e AS (SELECT pr.vec_id AS query_id, corp.vec_id AS neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(pr.q, corp.q), t -> t[1] * t[2])) AS BIGINT) AS dot,
             |        pr.n2 AS na, corp.n2 AS nb
             |      FROM pr JOIN corp USING (centroid_id) WHERE pr.vec_id <> corp.vec_id)
             |SELECT query_id, neighbor_id, CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cosine
             |FROM e WHERE na > 0 AND nb > 0 AND dot >= 0 AND dot * dot * 400 >= na * nb * 49
             |ORDER BY query_id, neighbor_id""".stripMargin)),

    // ---- M: last-writer-wins CDC merge. Base snapshot (customer) +
    // change feed (derived from orders: inserts/updates/deletes with
    // version = log offset) converge to latest state in ONE hash
    // aggregate — union + max_by partial-combines map-side; no window,
    // no join, no driver state (dfw/MergeOps.applyChangesLww). ----
    ("m1_merge_lww",
      (s: SparkSession, dir: String) => {
        val base = Tables.load(s, dir, "customer").select(
          col("c_custkey").cast("int").as("c_custkey"),
          col("c_name"),
          col("c_nationkey").cast("int").as("c_nationkey"),
          col("c_acctbal").cast("double").as("c_acctbal"),
          col("c_mktsegment"))
        val changes = ordersAsCustomerChanges(Tables.load(s, dir, "orders"))
        MergeOps.applyChangesLww(base, changes, "c_custkey", "version", "op")
          .orderBy(col("c_custkey"))
      },
      Some(s"""WITH ch AS ($changesFeedSql),
             |allr AS (
             |  SELECT CAST(c_custkey AS INTEGER) AS c_custkey,
             |         CAST(-9223372036854775807 - 1 AS BIGINT) AS version,
             |         '__base' AS op, c_name,
             |         CAST(c_nationkey AS INTEGER) AS c_nationkey,
             |         CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
             |  FROM customer
             |  UNION ALL
             |  SELECT c_custkey, version, op, c_name, c_nationkey, c_acctbal, c_mktsegment FROM ch),
             |w AS (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY version DESC) AS rn
             |      FROM allr)
             |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
             |FROM w WHERE rn = 1 AND op <> 'delete'
             |ORDER BY c_custkey""".stripMargin)),

    // ---- M: SCD-2 history — the same feed expanded into validity
    // intervals (valid_from/valid_to/is_current). One keyed window
    // whose groups are a single entity's edit chain; deletes close the
    // prior interval but emit no row (dfw/MergeOps.scdHistory). ----
    ("m2_scd_history",
      (s: SparkSession, dir: String) => {
        val changes = ordersAsCustomerChanges(Tables.load(s, dir, "orders"))
        MergeOps.scdHistory(changes, "c_custkey", "version", "op")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy(col("c_custkey"), col("valid_from"))
      },
      Some(s"""WITH ch AS ($changesFeedSql),
             |w AS (SELECT *, lead(version) OVER (PARTITION BY c_custkey ORDER BY version) AS valid_to
             |      FROM ch)
             |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             |       CAST(version AS BIGINT) AS valid_from,
             |       CAST(valid_to AS BIGINT) AS valid_to,
             |       CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
             |FROM w WHERE op <> 'delete'
             |ORDER BY c_custkey, valid_from""".stripMargin)),

    // ---- L: Z-order layout key — Morton interleave of (o_custkey,
    // totalprice bucket), the clustering key behind multi-dimensional
    // min/max pruning (functions/ZOrderExpressions, codegen; layout
    // write + measured pruning in sources/LayoutOps + ZOrderSpec).
    // Oracle replays the identical shift-mask spread in SQL. ----
    ("l1_zorder",
      (s: SparkSession, dir: String) => {
        val o = Tables.load(s, dir, "orders")
        o.select(
            col("o_orderkey").cast("int").as("o_orderkey"),
            graft.functions.ZOrderFunctions.zorder16(
              col("o_custkey").cast("int"),
              floor(col("o_totalprice").cast("double") / 32).cast("int")).as("zval"))
          .orderBy(col("zval"), col("o_orderkey"))
      },
      Some(s"""SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey,
             |  ${graft.functions.ZOrderFunctions.zorder16Sql(
                  "o_custkey",
                  "CAST(floor(CAST(o_totalprice AS DOUBLE) / 32) AS BIGINT)",
                  "zval")}
             |FROM orders
             |ORDER BY zval, o_orderkey""".stripMargin)),

    // ---- Q: retention curve — per-day + cumulative distinct users.
    // Raw events are scanned ONCE (map-side-combined per-day HLL
    // sketches); the cumulative series merges per-day KiB sketches in
    // an expanding window over day rows, never re-scanning events.
    // Exact anchors (countDistinct; first-seen cumulative identity)
    // + bound verdicts; the oracle replays the anchors. ----
    ("q_cumulative_users",
      (s: SparkSession, dir: String) => {
        SketchOps.cumulativeDistinctUsersCertified(Tables.load(s, dir, "events"))
      },
      Some("""WITH bd AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
             |ed AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_daily
             |       FROM bd GROUP BY day),
             |fs AS (SELECT user_id, min(day) AS day FROM bd GROUP BY user_id),
             |nn AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY day),
             |j AS (SELECT ed.day, ed.n_daily, COALESCE(nn.n_new, 0) AS n_new
             |      FROM ed LEFT JOIN nn USING (day))
             |SELECT day, n_daily, n_new,
             |       CAST(sum(n_new) OVER (ORDER BY day
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum,
             |       1 AS daily_ok, 1 AS cum_ok
             |FROM j ORDER BY day""".stripMargin)),

    // ---- Q: rolling active users (DAU / trailing-7-day WAU /
    // stickiness) — exact WITHOUT a day×events window self-join: the
    // corpus collapses to distinct (day, user) once, each active pair
    // explodes to the ≤7 window-end days it covers (expansion bounded
    // by the window, not the data), then two hash aggregations
    // (dfw/TimeSeriesOps.rollingActiveUsers). ----
    ("q_rolling_active",
      (s: SparkSession, dir: String) => {
        graft.dfw.TimeSeriesOps.rollingActiveUsers(Tables.load(s, dir, "events"),
            "ts", "user_id", windowDays = 7)
          .orderBy(col("day"))
      },
      Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
             |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day),
             |wau AS (SELECT a.day, CAST(count(DISTINCT b.u) AS BIGINT) AS wau
             |        FROM dau a JOIN du b ON b.day BETWEEN a.day - 6 AND a.day
             |        GROUP BY a.day)
             |SELECT a.day, a.dau, w.wau, a.dau * 1000000 // w.wau AS stickiness_ppm
             |FROM dau a JOIN wau w USING (day) ORDER BY day""".stripMargin)),

    // ---- G: link-graph centrality (integer PageRank) on the
    // customer↔supplier purchase graph — the page-importance signal
    // corpus curation weights documents by. Integer micro-unit
    // arithmetic makes every round's sums order-independent, so the
    // oracle's unrolled iteration matches bit-for-bit (llm/GraphOps).
    // Node ids use the tag-bit encoding (cust·2 / supp·2+1, the g7
    // scheme) in every bipartite graph query: the earlier
    // supp+1,000,000 offset collides with custkey past sf≈7, silently
    // merging nodes in a way a same-mapping oracle can't catch. ----
    ("g1_pagerank",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey").cast("long") * 2).as("src"),
            (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        val edges = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
        GraphOps.pageRankInt(edges, "src", "dst", iters = 3)
          .orderBy(col("node"))
      },
      Some {
        val base =
          """WITH b AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
            |             CAST(l_suppkey * 2 + 1 AS BIGINT) AS s
            |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            |e AS (SELECT c AS src, s AS dst FROM b UNION SELECT s, c FROM b),
            |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
            |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
            |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)""".stripMargin
        val iterations = (1 to 3).map { k =>
          s"""c$k AS (SELECT e.dst AS node, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS s
             |        FROM e JOIN r${k - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
             |        GROUP BY e.dst),
             |r$k AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
             |        FROM nodes n LEFT JOIN c$k c ON n.node = c.node)""".stripMargin
        }.mkString(",\n")
        s"$base,\n$iterations\nSELECT node, rank FROM r3 ORDER BY node"
      }),

    // ---- G: WEIGHTED integer PageRank — edge weight = purchase
    // multiplicity (each lineitem contributes 1), rank splits
    // proportionally to weights. Same bit-replayable integer
    // discipline (llm/GraphOps.pageRankWeightedInt). ----
    ("g2_pagerank_weighted",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey").cast("long") * 2).as("src"),
            (col("l_suppkey").cast("long") * 2 + 1).as("dst"),
            lit(1L).as("w"))
        val edges = cs.union(cs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        GraphOps.pageRankWeightedInt(edges, "src", "dst", "w", iters = 3)
          .orderBy(col("node"))
      },
      Some {
        val base =
          """WITH raw AS (SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
            |               CAST(l_suppkey * 2 + 1 AS BIGINT) AS s
            |             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            |e0 AS (SELECT c AS src, s AS dst, CAST(1 AS BIGINT) AS w FROM raw
            |       UNION ALL SELECT s, c, CAST(1 AS BIGINT) FROM raw),
            |e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM e0 GROUP BY src, dst),
            |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src),
            |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
            |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)""".stripMargin
        val iterations = (1 to 3).map { k =>
          s"""c$k AS (SELECT e.dst AS node, CAST(sum((r.rank * e.w) // d.outw) AS BIGINT) AS s
             |        FROM e JOIN r${k - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
             |        GROUP BY e.dst),
             |r$k AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
             |        FROM nodes n LEFT JOIN c$k c ON n.node = c.node)""".stripMargin
        }.mkString(",\n")
        s"$base,\n$iterations\nSELECT node, rank FROM r3 ORDER BY node"
      }),

    // ---- F: sequential conversion funnel view→click→purchase.
    // Window-free: each step is a scan-filtered pass over events
    // joined to the previous step's per-user first-time state — the
    // state side is always broadcast, so events never shuffle
    // (dfw/FunnelOps).
    // Integer conversion percents. ----
    ("q_funnel",
      (s: SparkSession, dir: String) => {
        FunnelOps.sequentialFunnel(Tables.load(s, dir, "events"),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
             |            WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s2 ON e.user_id = s2.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
             |c AS (SELECT 1 AS step, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
             |      UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
             |      UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3),
             |f AS (SELECT n_users AS n0 FROM c WHERE step = 1)
             |SELECT step, stage, n_users,
             |       CASE WHEN n0 = 0 THEN 0 ELSE (n_users * 100) // n0 END AS conv_pct
             |FROM c, f ORDER BY step""".stripMargin)),

    // ---- F: the funnel real event analytics defaults to — each
    // transition carries a CONVERSION WINDOW ("click within 1 day of
    // the view, purchase within 1 day of the click"). Same window-free
    // per-user-state shape as q_funnel; the bound is one extra
    // scan-side predicate per step, so the plan (broadcast per-user
    // state) is unchanged (dfw/FunnelOps). ----
    ("q_funnel_windowed",
      (s: SparkSession, dir: String) => {
        FunnelOps.sequentialFunnel(Tables.load(s, dir, "events"),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
          withinSeconds = Seq(86400L, 86400L))
      },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
             |            WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'click' AND e.ts > s1.t
             |         AND epoch(e.ts) - epoch(s1.t) <= 86400 GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s2 ON e.user_id = s2.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
             |         AND epoch(e.ts) - epoch(s2.t) <= 86400 GROUP BY e.user_id),
             |c AS (SELECT 1 AS step, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
             |      UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
             |      UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3),
             |f AS (SELECT n_users AS n0 FROM c WHERE step = 1)
             |SELECT step, stage, n_users,
             |       CASE WHEN n0 = 0 THEN 0 ELSE (n_users * 100) // n0 END AS conv_pct
             |FROM c, f ORDER BY step""".stripMargin)),

    // ---- F: time-to-convert distribution per funnel transition —
    // the latency stats that price conversion windows (exact integer
    // microseconds + quantile_cont-matched p50/p90; same broadcast
    // per-user state chain as q_funnel)
    // (dfw/FunnelOps.funnelTransitionStats). ----
    ("q_funnel_latency",
      (s: SparkSession, dir: String) => {
        FunnelOps.funnelTransitionStats(Tables.load(s, dir, "events"),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
             |            WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s2 ON e.user_id = s2.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
             |t1 AS (SELECT epoch_us(s2.t) - epoch_us(s1.t) AS us
             |       FROM s1 JOIN s2 USING (user_id)),
             |t2 AS (SELECT epoch_us(s3.t) - epoch_us(s2.t) AS us
             |       FROM s2 JOIN s3 USING (user_id))
             |SELECT 1 AS step, 'view' AS from_stage, 'click' AS to_stage,
             |  CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(min(us) AS BIGINT) AS min_us, CAST(max(us) AS BIGINT) AS max_us,
             |  CAST(sum(us) AS BIGINT) AS sum_us,
             |  round(quantile_cont(CAST(us AS DOUBLE) / 1000000.0, 0.5), 4) AS p50_s,
             |  round(quantile_cont(CAST(us AS DOUBLE) / 1000000.0, 0.9), 4) AS p90_s
             |FROM t1
             |UNION ALL
             |SELECT 2, 'click', 'purchase', CAST(count(*) AS BIGINT),
             |  CAST(min(us) AS BIGINT), CAST(max(us) AS BIGINT),
             |  CAST(sum(us) AS BIGINT),
             |  round(quantile_cont(CAST(us AS DOUBLE) / 1000000.0, 0.5), 4),
             |  round(quantile_cont(CAST(us AS DOUBLE) / 1000000.0, 0.9), 4)
             |FROM t2
             |ORDER BY step""".stripMargin)),

    // ---- Q: robust outlier gate — per-type median/MAD and the count
    // of values beyond 3×MAD (dfw/QuantileOps.madOutlierStats; 50%
    // breakdown where mean/stddev z-scores self-mask). Group stats
    // ride back via broadcast; the data side never join-shuffles. ----
    ("q_anomaly_mad",
      (s: SparkSession, dir: String) => {
        graft.dfw.QuantileOps.madOutlierStats(Tables.load(s, dir, "events"),
            Seq("event_type"), "value", k = 3)
          .orderBy(col("event_type"))
      },
      Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             |             FROM events GROUP BY event_type),
             |dev AS (SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
             |        FROM events e JOIN med m USING (event_type)),
             |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
             |        FROM dev GROUP BY event_type)
             |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
             |       round(max(d.med), 4) AS med, round(max(m.mad), 4) AS mad
             |FROM dev d JOIN mad m USING (event_type)
             |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    // ---- F: cohort retention matrix — first-seen cohorts × day
    // offsets with integer retention percents. Activity collapses to
    // distinct (day, user) first; first-seen broadcasts back; one
    // hash agg per (cohort, offset) (dfw/FunnelOps.cohortRetention).
    ("q_cohort_retention",
      (s: SparkSession, dir: String) => {
        FunnelOps.cohortRetention(Tables.load(s, dir, "events"), "user_id", "ts")
      },
      Some("""WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events),
             |fs AS (SELECT u, min(day) AS cohort_day FROM act GROUP BY u),
             |sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_n FROM fs GROUP BY cohort_day),
             |m AS (SELECT f.cohort_day, (a.day - f.cohort_day) AS day_offset,
             |        CAST(count(*) AS BIGINT) AS n_active
             |      FROM act a JOIN fs f ON a.u = f.u GROUP BY 1, 2)
             |SELECT m.cohort_day, m.day_offset, m.n_active,
             |       (m.n_active * 100) // sz.cohort_n AS retention_pct
             |FROM m JOIN sz USING (cohort_day)
             |ORDER BY cohort_day, day_offset""".stripMargin)),

    // ---- G: triangle census over the part co-purchase graph
    // (parts sharing an order, quantity-gated to keep the graph
    // sparse). Degree-ordered orientation bounds the wedge join by
    // |E|^1.5 regardless of hub skew (llm/GraphOps.triangleStats);
    // all-integer output, bit-replayable. ----
    ("g3_triangles",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem")
          .filter(col("l_quantity") > 25)
          .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
          .distinct()
        val e = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.triangleStats(e, "src", "dst")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
             |            FROM lineitem WHERE l_quantity > 25),
             |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
             |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
             |        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
             |        GROUP BY node),
             |o AS (SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
             |             CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS t
             |      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
             |w AS (SELECT o1.t AS wa, o2.t AS wb
             |      FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t),
             |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
             |        FROM w JOIN e ON w.wa = e.u AND w.wb = e.v),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
             |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
             |nw AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg)
             |SELECT nn.n_nodes, ne.n_edges, nw.n_wedges, tri.n_triangles,
             |  CASE WHEN nw.n_wedges = 0 THEN CAST(0 AS BIGINT)
             |       ELSE (3 * tri.n_triangles * 1000000) // nw.n_wedges END AS gcc_ppm
             |FROM nn, ne, nw, tri""".stripMargin)),

    // ---- X4: BM25 top-k retrieval over the corpus for a literal
    // probe query — tokenization keeps only query terms pre-explode,
    // idf/corpus stats broadcast, top-k via TakeOrderedAndProject;
    // scores ranked in integer micro-units (llm/TextOps.bm25TopK). ----
    ("x4_bm25",
      (s: SparkSession, dir: String) => {
        TextOps.bm25TopK(Tables.load(s, dir, "documents"), "doc_id", "text",
            Seq("hash", "join", "merge", "window", "stream"), topK = 20)
          .orderBy(col("rnk"))
      },
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
             |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
             |toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
             |hits AS (SELECT doc_id, term FROM toks
             |         WHERE term IN ('hash', 'join', 'merge', 'window', 'stream')),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             |       FROM hits GROUP BY doc_id, term),
             |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             |       FROM hits GROUP BY term),
             |sc AS (SELECT tf.doc_id,
             |         ln(1.0 + (CAST(c.n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
             |           * (CAST(tf.tf AS DOUBLE) * 2.2)
             |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / c.avgdl))
             |           AS contrib
             |       FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus c),
             |agg AS (SELECT doc_id,
             |          CAST(sum(CAST(round(contrib * 1000000) AS BIGINT)) AS BIGINT) AS score_q,
             |          CAST(count(*) AS BIGINT) AS n_terms
             |        FROM sc GROUP BY doc_id),
             |r AS (SELECT doc_id, n_terms, score_q,
             |        row_number() OVER (ORDER BY score_q DESC, doc_id) AS rnk FROM agg)
             |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms, score_q,
             |       CAST(score_q AS DOUBLE) / 1000000.0 AS score
             |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin)),

    // ---- X2: sorted-neighborhood ER blocking — block on the first
    // token, sort by the 40-char prefix, compare each record to its 3
    // successors, levenshtein-verify (llm/DedupOps
    // .sortedNeighborhoodPairs). Candidate volume ≤ w·N — linear. ----
    ("x2_sorted_neighborhood",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        DedupOps.sortedNeighborhoodPairs(docs, "doc_id",
            substring(col("text"), 1, 40), substring_index(col("text"), " ", 1),
            w = 3, maxDist = 15)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH k AS (SELECT doc_id AS id, substr(text, 1, 40) AS k,
             |             split_part(text, ' ', 1) AS blk FROM documents),
             |r AS (SELECT id, k, blk,
             |        row_number() OVER (PARTITION BY blk ORDER BY k, id) AS rn FROM k),
             |p AS (SELECT a.id AS id_l, a.k AS k_l, b.id AS id_r, b.k AS k_r
             |      FROM r a JOIN r b ON a.blk = b.blk
             |        AND b.rn BETWEEN a.rn + 1 AND a.rn + 3),
             |d AS (SELECT DISTINCT least(id_l, id_r) AS id_a, greatest(id_l, id_r) AS id_b,
             |        CAST(levenshtein(k_l, k_r) AS BIGINT) AS dist FROM p)
             |SELECT id_a, id_b, dist FROM d WHERE dist <= 15
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- TS: hourly OHLC bars per event type — open/close over a
    // tie-broken total order, mean in integer micro-units
    // (dfw/TimeSeriesOps.ohlcBars). One (series, bucket) shuffle. ----
    ("q_ohlc",
      (s: SparkSession, dir: String) => {
        graft.dfw.TimeSeriesOps.ohlcBars(Tables.load(s, dir, "events"),
            "event_type", "ts", "value", "event_id", "hour")
          .orderBy(col("event_type"), col("bucket_ts"))
      },
      Some("""WITH w AS (SELECT event_type, date_trunc('hour', ts) AS bucket_ts, value,
             |    first_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open,
             |    last_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
             |  FROM events),
             |g AS (SELECT event_type, bucket_ts, first(open) AS open, max(value) AS high,
             |        min(value) AS low, first(close) AS close,
             |        CAST(count(*) AS BIGINT) AS volume,
             |        CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_q
             |      FROM w GROUP BY event_type, bucket_ts)
             |SELECT event_type, bucket_ts, open, high, low, close, volume, sum_q,
             |       sum_q // volume AS mean_q
             |FROM g ORDER BY event_type, bucket_ts""".stripMargin)),

    // ---- TS: first-order Markov transition matrix over per-user
    // event sequences (dfw/TimeSeriesOps.transitionCounts) — one
    // user-keyed window, vocabulary-sized aggregate, ppm rows. ----
    ("q_transitions",
      (s: SparkSession, dir: String) => {
        graft.dfw.TimeSeriesOps.transitionCounts(Tables.load(s, dir, "events"),
            "user_id", "event_type", "ts", "event_id")
          .orderBy(col("from_state"), col("to_state"))
      },
      Some("""WITH s AS (SELECT user_id, event_type AS from_state,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
             |  FROM events),
             |c AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
             |      FROM s WHERE to_state IS NOT NULL GROUP BY from_state, to_state),
             |t AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY from_state)
             |SELECT c.from_state, c.to_state, c.n, (c.n * 1000000) // t.tot AS p_ppm
             |FROM c JOIN t USING (from_state)
             |ORDER BY from_state, to_state""".stripMargin)),

    // ---- Q: equi-width profiling histogram with a dense bucket
    // spine (dfw/QuantileOps.equiWidthHistogram) — one stats pass,
    // one ≤nb-key aggregate, broadcast everywhere. ----
    ("q_histogram",
      (s: SparkSession, dir: String) => {
        graft.dfw.QuantileOps.equiWidthHistogram(
            Tables.load(s, dir, "lineitem").select(col("l_extendedprice")),
            "l_extendedprice", nb = 16)
          .orderBy(col("bucket"))
      },
      Some("""WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
             |             CAST(count(l_extendedprice) AS BIGINT) AS n_total FROM lineitem),
             |b AS (SELECT CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
             |        ELSE least(CAST(15 AS BIGINT),
             |          CAST(floor((l_extendedprice - s.mn) / (s.mx - s.mn) * 16) AS BIGINT))
             |        END AS bucket
             |      FROM lineitem, s),
             |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bucket),
             |sp AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS bucket, s.mn, s.mx, s.n_total
             |       FROM s)
             |SELECT sp.bucket,
             |  round(sp.mn + sp.bucket * (sp.mx - sp.mn) / 16, 6) AS lo,
             |  round(sp.mn + (sp.bucket + 1) * (sp.mx - sp.mn) / 16, 6) AS hi,
             |  COALESCE(c.cnt, CAST(0 AS BIGINT)) AS cnt,
             |  CASE WHEN sp.n_total = 0 THEN CAST(0 AS BIGINT)
             |       ELSE (COALESCE(c.cnt, CAST(0 AS BIGINT)) * 1000000) // sp.n_total
             |  END AS frac_ppm
             |FROM sp LEFT JOIN c USING (bucket) ORDER BY sp.bucket""".stripMargin)),

    // ---- G: bounded-round min-label propagation over the same
    // co-purchase graph as g3 — the convergence probe before paying
    // for the full CC loop; integer min-aggregation is
    // order-independent, so the k-round intermediate state is
    // bit-replayable (llm/GraphOps.minLabelPropagate). ----
    ("g4_label_prop",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem")
          .filter(col("l_quantity") > 25)
          .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
          .distinct()
        val e = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.minLabelPropagate(e, "src", "dst", iters = 3)
          .orderBy(col("node"))
      },
      Some {
        val base =
          """WITH li AS (SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
            |            FROM lineitem WHERE l_quantity > 25),
            |raw AS (SELECT a.pk AS u, b.pk AS v
            |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
            |e AS (SELECT u AS a, v AS b FROM raw UNION SELECT v, u FROM raw),
            |n AS (SELECT DISTINCT a AS node FROM e),
            |l0 AS (SELECT node, node AS label FROM n)""".stripMargin
        val rounds = (1 to 3).map { k =>
          s"""m$k AS (SELECT e.a AS node, min(l.label) AS nmin
             |        FROM e JOIN l${k - 1} l ON e.b = l.node GROUP BY e.a),
             |l$k AS (SELECT l.node, least(l.label, COALESCE(m.nmin, l.label)) AS label
             |        FROM l${k - 1} l LEFT JOIN m$k m ON l.node = m.node)""".stripMargin
        }.mkString(",\n")
        s"$base,\n$rounds\nSELECT node, label FROM l3 ORDER BY node"
      }),

    // ---- DQ: data-quality expectation audit — five dbt/Deequ-shape
    // rules, each one scan-aggregate (or broadcast anti-join) row
    // unioned into one lazy plan (dfw/ExpectOps). ----
    ("q_expectations",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem")
        val ord = Tables.load(s, dir, "orders")
        val cust = Tables.load(s, dir, "customer")
        graft.dfw.ExpectOps.expectNotNull(li, "l_shipdate")
          .unionAll(graft.dfw.ExpectOps.expectUnique(ord, Seq("o_orderkey")))
          .unionAll(graft.dfw.ExpectOps.expectInRange(li, "l_quantity", 1.0, 30.0))
          .unionAll(graft.dfw.ExpectOps.expectAccepted(ord, "o_orderstatus", Seq("F", "O", "P")))
          .unionAll(graft.dfw.ExpectOps.expectRefIntegrity(ord, "o_custkey", cust, "c_custkey"))
          .orderBy(col("rule"))
      },
      Some("""SELECT 'not_null(l_shipdate)' AS rule, CAST(count(*) AS BIGINT) AS n_checked,
             |  CAST(count(*) - count(l_shipdate) AS BIGINT) AS n_violations,
             |  CASE WHEN count(*) - count(l_shipdate) = 0 THEN 1 ELSE 0 END AS pass
             |FROM lineitem
             |UNION ALL
             |SELECT 'unique(o_orderkey)', CAST(sum(n) AS BIGINT), CAST(sum(n - 1) AS BIGINT),
             |  CASE WHEN sum(n - 1) = 0 THEN 1 ELSE 0 END
             |FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
             |UNION ALL
             |SELECT 'in_range(l_quantity,1.0,30.0)', CAST(count(*) AS BIGINT),
             |  CAST(sum(CASE WHEN l_quantity IS NOT NULL
             |                 AND (l_quantity < 1.0 OR l_quantity > 30.0)
             |           THEN 1 ELSE 0 END) AS BIGINT),
             |  CASE WHEN sum(CASE WHEN l_quantity IS NOT NULL
             |                      AND (l_quantity < 1.0 OR l_quantity > 30.0)
             |                THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
             |FROM lineitem
             |UNION ALL
             |SELECT 'accepted(o_orderstatus)', CAST(count(*) AS BIGINT),
             |  CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
             |                 AND o_orderstatus NOT IN ('F', 'O', 'P')
             |           THEN 1 ELSE 0 END) AS BIGINT),
             |  CASE WHEN sum(CASE WHEN o_orderstatus IS NOT NULL
             |                      AND o_orderstatus NOT IN ('F', 'O', 'P')
             |                THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
             |FROM orders
             |UNION ALL
             |SELECT 'ref(o_custkey->c_custkey)', CAST(count(o_custkey) AS BIGINT),
             |  CAST((SELECT count(*) FROM orders o
             |        WHERE o.o_custkey IS NOT NULL
             |          AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
             |  CASE WHEN (SELECT count(*) FROM orders o
             |             WHERE o.o_custkey IS NOT NULL
             |               AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
             |       THEN 1 ELSE 0 END
             |FROM orders
             |ORDER BY rule""".stripMargin)),

    // ---- TS: OHLC as ONE pure hash aggregate — min_by/max_by over
    // the unique (ts, id) struct, no window, no sort; the same body
    // is the streaming ingest query (streaming/StreamOps.ohlcStream).
    // Same oracle as q_ohlc: two plans, one semantics. ----
    ("q_ohlc_agg",
      (s: SparkSession, dir: String) => {
        graft.dfw.TimeSeriesOps.ohlcBarsAgg(Tables.load(s, dir, "events"),
            "event_type", "ts", "value", "event_id", "hour")
          .orderBy(col("event_type"), col("bucket_ts"))
      },
      Some("""WITH w AS (SELECT event_type, date_trunc('hour', ts) AS bucket_ts, value,
             |    first_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open,
             |    last_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
             |  FROM events),
             |g AS (SELECT event_type, bucket_ts, first(open) AS open, max(value) AS high,
             |        min(value) AS low, first(close) AS close,
             |        CAST(count(*) AS BIGINT) AS volume,
             |        CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_q
             |      FROM w GROUP BY event_type, bucket_ts)
             |SELECT event_type, bucket_ts, open, high, low, close, volume, sum_q,
             |       sum_q // volume AS mean_q
             |FROM g ORDER BY event_type, bucket_ts""".stripMargin)),

    // ---- W: temporal leave-last-k-out split — per-user most-recent
    // k events become test (the forecasting/recommender eval split;
    // random splits leak the future). One user-keyed window
    // (dfw/SplitOps.temporalSplit). ----
    ("w_temporal_split",
      (s: SparkSession, dir: String) => {
        SplitOps.temporalSplit(Tables.load(s, dir, "events"),
            "user_id", "ts", "event_id", k = 2)
          .select(col("user_id"), col("event_id"), col("split"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH r AS (SELECT user_id, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rev
             |  FROM events)
             |SELECT user_id, event_id,
             |  CASE WHEN rev <= 2 THEN 'test' ELSE 'train' END AS split
             |FROM r ORDER BY user_id, event_id""".stripMargin)),

    // ---- T: leave-one-out target encoding — the leakage-safe
    // categorical encoding (enc_i = (Σ_cat y − y_i)/(n_cat−1));
    // self-label excluded exactly, singleton categories null. One
    // broadcast of per-category (Σ, n); the fact table never
    // join-shuffles (dfw/TransformOps.targetEncodeLoo). ----
    ("t_target_encode",
      (s: SparkSession, dir: String) => {
        TransformOps.targetEncodeLoo(
            Tables.load(s, dir, "lineitem")
              .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
            "l_returnflag", "l_quantity")
          .orderBy(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity"))
      },
      Some("""WITH s AS (SELECT l_returnflag,
             |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM lineitem GROUP BY 1)
             |SELECT l_orderkey, l_linenumber, l.l_returnflag, l_quantity,
             |  CASE WHEN n <= 1 THEN NULL
             |       ELSE round(CAST(s - CAST(l_quantity AS BIGINT) AS DOUBLE) / (n - 1), 6)
             |  END AS l_quantity_loo
             |FROM lineitem l JOIN s USING (l_returnflag)
             |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin)),

    // ---- T: per-class z-score standardization from EXACT integer
    // moment sums (dfw/TransformOps.standardizeByGroup) — built-in
    // stddev accumulates in shuffle order; integer Σx/Σx² are exact
    // under any partitioning, so the z-scores are engine-exact.
    // Fractional price quantized to whole dollars so Σx² stays in
    // BIGINT range at any scale factor. ----
    ("t_standardize",
      (s: SparkSession, dir: String) => {
        val base = Tables.load(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice")).cast("long").as("price_d"))
        TransformOps.standardizeByGroup(base, Seq("l_returnflag"), Seq("qty", "price_d"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty"), col("price_d"))
      },
      Some("""WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
             |    CAST(l_quantity AS BIGINT) AS qty,
             |    CAST(round(l_extendedprice) AS BIGINT) AS price_d
             |  FROM lineitem),
             |m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(qty) AS BIGINT) AS s1q, CAST(sum(qty * qty) AS BIGINT) AS s2q,
             |    CAST(sum(price_d) AS BIGINT) AS s1p, CAST(sum(price_d * price_d) AS BIGINT) AS s2p
             |  FROM b GROUP BY l_returnflag)
             |SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag, b.qty, b.price_d,
             |  CASE WHEN n <= 1 THEN 0.0 ELSE round((b.qty - CAST(s1q AS DOUBLE) / n) /
             |    sqrt((CAST(s2q AS DOUBLE) - CAST(s1q AS DOUBLE) * s1q / n) / (n - 1)), 6) END AS qty_z,
             |  CASE WHEN n <= 1 THEN 0.0 ELSE round((b.price_d - CAST(s1p AS DOUBLE) / n) /
             |    sqrt((CAST(s2p AS DOUBLE) - CAST(s1p AS DOUBLE) * s1p / n) / (n - 1)), 6) END AS price_d_z
             |FROM b JOIN m USING (l_returnflag)
             |ORDER BY l_orderkey, l_linenumber, qty, price_d""".stripMargin)),

    // ---- W: deterministic hash split — 80/10/10 membership as a
    // pure function of the row key (stable under data growth, unlike
    // rank splits; engine-neutral md5 so membership is externally
    // reproducible). Per-split integer checksums certify the exact
    // membership without materializing 600k rows
    // (dfw/SplitOps.hashSplit). ----
    ("w_hash_split",
      (s: SparkSession, dir: String) => {
        val base = Tables.load(s, dir, "lineitem").select(
          // cast("long"): INT32 drift would switch xxhash64 to its
          // 4-byte path, silently changing split membership (md5 twin
          // is width-safe via the VARCHAR render; this keeps them equal)
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("sample_id"))
        SplitOps.hashSplit(base, col("sample_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
            k => DedupOps.md5TokenHash(k.cast("string")))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"), sum(col("sample_id")).as("sum_ids"),
            sum(col("hash_val")).as("sum_hv"))
          .orderBy(col("split"))
      },
      Some("""WITH f AS (SELECT l_orderkey * 10 + l_linenumber AS sample_id FROM lineitem),
             |h AS (SELECT sample_id,
             |        CAST(('0x' || substr(md5(CAST(sample_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS hv
             |      FROM f),
             |sp AS (SELECT sample_id, hv,
             |         CASE WHEN hv < 800000 THEN 'train'
             |              WHEN hv < 900000 THEN 'val' ELSE 'test' END AS split
             |       FROM h)
             |SELECT split, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(sample_id) AS BIGINT) AS sum_ids,
             |  CAST(sum(hv) AS BIGINT) AS sum_hv
             |FROM sp GROUP BY split ORDER BY split""".stripMargin)),

    // ---- PRODUCTION-hash twin of w_hash_split: the DEFAULT xxhash64
    // key hash (hashSplit's fast path — one codegen'd expression, no
    // md5 string detour). Same per-split integer checksums; the
    // long-XXH64 replica replays every membership decision, so the
    // twin is hash-exact, not rows-only. Dup sample_ids hash per ROW
    // on both sides (the replica CTE carries every input row). ----
    ("w_hash_split_prod",
      (s: SparkSession, dir: String) => {
        val base = Tables.load(s, dir, "lineitem").select(
          // cast("long"): INT32 drift would switch xxhash64 to its
          // 4-byte path, silently changing split membership (md5 twin
          // is width-safe via the VARCHAR render; this keeps them equal)
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("sample_id"))
        SplitOps.hashSplit(base, col("sample_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), xxhash64(_))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"), sum(col("sample_id")).as("sum_ids"),
            sum(col("hash_val")).as("sum_hv"))
          .orderBy(col("split"))
      },
      Some(s"""WITH f AS (SELECT l_orderkey * 10 + l_linenumber AS sample_id FROM lineitem),
             |${xxhash64LongCtes("f", "sample_id")},
             |sp AS (SELECT sample_id, ((xx64 % 1000000) + 1000000) % 1000000 AS hv FROM hx),
             |sp2 AS (SELECT sample_id, hv,
             |         CASE WHEN hv < 800000 THEN 'train'
             |              WHEN hv < 900000 THEN 'val' ELSE 'test' END AS split
             |       FROM sp)
             |SELECT split, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(sample_id) AS BIGINT) AS sum_ids,
             |  CAST(sum(hv) AS BIGINT) AS sum_hv
             |FROM sp2 GROUP BY split ORDER BY split""".stripMargin)),

    // ---- T: robust median/IQR scaling — the outlier-resistant twin
    // of t_standardize (25–50% breakdown quartiles vs a fragile σ);
    // exact per-class percentile triple broadcast back
    // (dfw/TransformOps.robustScaleByGroup). ----
    ("t_robust_scale",
      (s: SparkSession, dir: String) => {
        val base = Tables.load(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice")).cast("long").as("price_d"))
        TransformOps.robustScaleByGroup(base, Seq("l_returnflag"), Seq("qty", "price_d"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty"), col("price_d"))
      },
      Some("""WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
             |    CAST(l_quantity AS BIGINT) AS qty,
             |    CAST(round(l_extendedprice) AS BIGINT) AS price_d
             |  FROM lineitem),
             |m AS (SELECT l_returnflag,
             |    quantile_cont(qty, 0.25) AS q1q, quantile_cont(qty, 0.5) AS medq,
             |    quantile_cont(qty, 0.75) AS q3q,
             |    quantile_cont(price_d, 0.25) AS q1p, quantile_cont(price_d, 0.5) AS medp,
             |    quantile_cont(price_d, 0.75) AS q3p
             |  FROM b GROUP BY l_returnflag)
             |SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag, b.qty, b.price_d,
             |  CASE WHEN q3q - q1q = 0 THEN 0.0
             |       ELSE round((b.qty - medq) / (q3q - q1q), 6) END AS qty_r,
             |  CASE WHEN q3p - q1p = 0 THEN 0.0
             |       ELSE round((b.price_d - medp) / (q3p - q1p), 6) END AS price_d_r
             |FROM b JOIN m USING (l_returnflag)
             |ORDER BY l_orderkey, l_linenumber, qty, price_d""".stripMargin)),

    // ---- DQ: PSI drift monitor — price distribution of pre-1998
    // shipments (reference) vs later (current) over shared global
    // equi-width buckets; Laplace-smoothed shares, micro-unit-
    // quantized contributions (dfw/QuantileOps.psiDrift). ----
    ("q_psi_drift",
      (s: SparkSession, dir: String) => {
        graft.dfw.QuantileOps.psiDrift(
            Tables.load(s, dir, "lineitem").select(col("l_extendedprice"), col("l_shipdate")),
            "l_extendedprice", col("l_shipdate") < lit("1998-01-01").cast("timestamp"), nb = 16)
          .orderBy(col("bucket"))
      },
      Some("""WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem),
             |b AS (SELECT CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
             |        ELSE least(CAST(15 AS BIGINT),
             |          CAST(floor((l_extendedprice - s.mn) / (s.mx - s.mn) * 16) AS BIGINT))
             |        END AS bucket,
             |        CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS r
             |      FROM lineitem, s),
             |c AS (SELECT bucket, CAST(sum(r) AS BIGINT) AS ref_n,
             |        CAST(sum(1 - r) AS BIGINT) AS cur_n FROM b GROUP BY bucket),
             |sp AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS bucket, s.mn, s.mx FROM s),
             |f AS (SELECT sp.bucket, sp.mn, sp.mx,
             |        COALESCE(c.ref_n, CAST(0 AS BIGINT)) AS ref_n,
             |        COALESCE(c.cur_n, CAST(0 AS BIGINT)) AS cur_n
             |      FROM sp LEFT JOIN c USING (bucket)),
             |t AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt, CAST(sum(cur_n) AS BIGINT) AS ct FROM f),
             |pq AS (SELECT f.bucket, f.mn, f.mx, f.ref_n, f.cur_n,
             |         (CAST(f.ref_n AS DOUBLE) + 1.0) / (t.rt + 16) AS p,
             |         (CAST(f.cur_n AS DOUBLE) + 1.0) / (t.ct + 16) AS q
             |       FROM f, t),
             |k AS (SELECT bucket, mn, mx, ref_n, cur_n,
             |        CAST(round((p - q) * ln(p / q) * 1000000) AS BIGINT) AS psi_q FROM pq),
             |tot AS (SELECT CAST(sum(psi_q) AS BIGINT) AS psi_total_q FROM k)
             |SELECT k.bucket,
             |  round(k.mn + k.bucket * (k.mx - k.mn) / 16, 6) AS lo,
             |  round(k.mn + (k.bucket + 1) * (k.mx - k.mn) / 16, 6) AS hi,
             |  k.ref_n, k.cur_n, k.psi_q, tot.psi_total_q
             |FROM k, tot ORDER BY k.bucket""".stripMargin)),

    // ---- X4: per-doc character entropy — the noise/boilerplate
    // quality signal; micro-unit-quantized c·ln c contributions make
    // the per-doc sum order-free (llm/TextOps.charEntropy). ----
    ("x4_char_entropy",
      (s: SparkSession, dir: String) => {
        TextOps.charEntropy(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
             |c AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM ch GROUP BY doc_id, ch),
             |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
             |        CAST(count(*) AS BIGINT) AS n_distinct,
             |        CAST(sum(CAST(round(c * ln(c) * 1000000) AS BIGINT)) AS BIGINT) AS sum_clnc_q
             |      FROM c GROUP BY doc_id)
             |SELECT doc_id, n_chars, n_distinct, sum_clnc_q,
             |  round(ln(n_chars) - (CAST(sum_clnc_q AS DOUBLE) / 1000000.0) / n_chars, 6) AS entropy
             |FROM a ORDER BY doc_id""".stripMargin)),

    // ---- X4: quality-decile tiering — integer stop-ratio score,
    // GLOBAL decile assignment via the range-partitioned scalable
    // rank (dfw/WindowOps.orderedAnalyticsScalable — no single-
    // reducer window), per-tile profile. The "sample by quality
    // tier" precursor of curriculum/mixture construction. ----
    ("x4_quality_deciles",
      (s: SparkSession, dir: String) => {
        val scored = Tables.load(s, dir, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"),
            size(filter(split(col("text"), " "), t => t.isInCollection(Seq("the", "a"))))
              .cast("long").as("n_stop"))
          .withColumn("score_q", expr("n_stop * 1000000 div n_tokens"))
          .withColumn("all", lit(0))
        WindowOps.orderedAnalyticsScalable(scored, Seq("all"),
            Seq(col("score_q"), col("doc_id")), "score_q", nTiles = 10)
          .groupBy(col("tile"))
          .agg(count(lit(1)).as("n_docs"), min(col("score_q")).as("lo_q"),
            max(col("score_q")).as("hi_q"), sum(col("n_tokens")).as("tot_tokens"))
          .orderBy(col("tile"))
      },
      Some("""WITH s AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop
             |  FROM documents),
             |q AS (SELECT doc_id, n_tokens, (n_stop * 1000000) // n_tokens AS score_q FROM s),
             |t AS (SELECT doc_id, n_tokens, score_q,
             |        CAST(ntile(10) OVER (ORDER BY score_q, doc_id) AS BIGINT) AS tile FROM q)
             |SELECT tile, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(min(score_q) AS BIGINT) AS lo_q, CAST(max(score_q) AS BIGINT) AS hi_q,
             |  CAST(sum(n_tokens) AS BIGINT) AS tot_tokens
             |FROM t GROUP BY tile ORDER BY tile""".stripMargin)),

    // ---- X4: within-document repetition removal, keep-first — the
    // intra-doc dedup gate (llm/TextOps.dedupWithinDoc); rewritten
    // text reassembled by first-occurrence position, rep ratio in
    // ppm. ----
    ("x4_dedup_within_doc",
      (s: SparkSession, dir: String) => {
        TextOps.dedupWithinDoc(Tables.load(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS unit,
             |             unnest(range(0, len(string_split(text, ' ')))) AS pos
             |           FROM documents),
             |m AS (SELECT doc_id, unit, min(pos) AS pos, CAST(count(*) AS BIGINT) AS n
             |      FROM t GROUP BY doc_id, unit)
             |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_before,
             |  CAST(count(*) AS BIGINT) AS n_after,
             |  string_agg(unit, ' ' ORDER BY pos) AS dedup_text,
             |  CAST(((sum(n) - count(*)) * 1000000) // sum(n) AS BIGINT) AS rep_ratio_ppm
             |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- AUDIT: k-anonymity release gate — per threshold k, the QI
    // equivalence classes smaller than k and the rows inside them
    // (dfw/AuditOps.kAnonymity). QI tuple: nation × segment × 1000-wide
    // balance band. The explode is over the CLASS table, never the
    // data. ----
    ("q_kanon",
      (s: SparkSession, dir: String) => {
        AuditOps.kAnonymity(
          Tables.load(s, dir, "customer"),
          Seq(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
          thresholds = Seq(2, 5, 10, 20))
      },
      Some("""WITH c AS (SELECT c_nationkey, c_mktsegment,
             |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM customer GROUP BY 1, 2, 3),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_classes FROM c),
             |k AS (SELECT * FROM (VALUES (2), (5), (10), (20)) v(k))
             |SELECT k.k,
             |  CAST(sum(CASE WHEN c.cnt < k.k THEN 1 ELSE 0 END) AS BIGINT) AS classes_at_risk,
             |  CAST(sum(CASE WHEN c.cnt < k.k THEN c.cnt ELSE 0 END) AS BIGINT) AS rows_at_risk,
             |  t.n_classes,
             |  round(CAST(sum(CASE WHEN c.cnt < k.k THEN c.cnt ELSE 0 END) AS DOUBLE) / t.total, 6) AS risk_frac
             |FROM c CROSS JOIN k CROSS JOIN t
             |GROUP BY k.k, t.n_classes, t.total ORDER BY k""".stripMargin)),

    // ---- AUDIT: join fan-out profile for orders ⋈ customer, computed
    // from two key-cardinality aggregates WITHOUT running the join —
    // the pre-flight before a 100 TB join (dfw/AuditOps.joinProfile).
    // Single row, no ORDER BY needed. ----
    ("q_join_profile",
      (s: SparkSession, dir: String) => {
        AuditOps.joinProfile(
          Tables.load(s, dir, "orders"), "o_custkey",
          Tables.load(s, dir, "customer"), "c_custkey")
      },
      Some("""WITH l AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS nl FROM orders GROUP BY 1),
             |r AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS nr FROM customer GROUP BY 1),
             |j AS (SELECT nl, nr FROM l FULL OUTER JOIN r ON l.k = r.k)
             |SELECT CAST(sum(coalesce(nl, 0)) AS BIGINT) AS left_rows,
             |  CAST(sum(coalesce(nr, 0)) AS BIGINT) AS right_rows,
             |  CAST(sum(CASE WHEN nl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS left_keys,
             |  CAST(sum(CASE WHEN nr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS right_keys,
             |  CAST(sum(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS keys_both,
             |  CAST(sum(CASE WHEN nr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS keys_left_only,
             |  CAST(sum(CASE WHEN nl IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS keys_right_only,
             |  CAST(max(coalesce(nl, 0)) AS BIGINT) AS max_left_mult,
             |  CAST(max(coalesce(nr, 0)) AS BIGINT) AS max_right_mult,
             |  CAST(sum(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL THEN nl * nr ELSE 0 END) AS BIGINT) AS est_out_rows
             |FROM j""".stripMargin)),

    // ---- AUDIT: Welch's t-test between two hash-bucketed arms on a
    // per-user engagement metric (events per user). Arm membership is
    // the engine-neutral md5 key hash mod 2, so the oracle reproduces
    // the exact assignment; the test itself is one conditional
    // aggregate (dfw/AuditOps.welchTTest). ----
    ("q_ab_test",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).cast("double").as("n_events"))
          .withColumn("variant",
            pmod(DedupOps.md5TokenHash(col("user_id").cast("string")), lit(2)).cast("int"))
        AuditOps.welchTTest(perUser, col("variant"), col("n_events"))
      },
      Some("""WITH u AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS n_events FROM events GROUP BY 1),
             |v AS (SELECT n_events,
             |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS variant
             |  FROM u),
             |a AS (SELECT
             |    CAST(count(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n0,
             |    CAST(count(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n1,
             |    avg(CASE WHEN variant = 0 THEN n_events END) AS m0,
             |    avg(CASE WHEN variant = 1 THEN n_events END) AS m1,
             |    var_samp(CASE WHEN variant = 0 THEN n_events END) AS v0,
             |    var_samp(CASE WHEN variant = 1 THEN n_events END) AS v1
             |  FROM v)
             |SELECT n0, n1, round(m0, 6) AS mean0, round(m1, 6) AS mean1,
             |  round(v0, 4) AS var0, round(v1, 4) AS var1,
             |  round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 4) AS t_stat,
             |  round(((v0 / n0 + v1 / n1) * (v0 / n0 + v1 / n1)) /
             |    ((v0 / n0) * (v0 / n0) / (n0 - 1) + (v1 / n1) * (v1 / n1) / (n1 - 1)), 2) AS welch_df
             |FROM a""".stripMargin)),

    // ---- MAINTENANCE: snapshot diff — two simulated versions of
    // orders (keys %10=3 added, %10=7 removed, %5=0 repriced) classed
    // added/removed/changed/unchanged from narrow (key, xxhash64)
    // projections; the oracle re-derives the classes from value
    // comparisons, pinning the fingerprint plan to the semantic truth
    // (dfw/AuditOps.snapshotDiff). ----
    ("m3_snapshot_diff",
      (s: SparkSession, dir: String) => {
        val orders = Tables.load(s, dir, "orders")
        val oldSnap = orders.filter(col("o_orderkey") % 10 =!= 3)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
        val newSnap = orders.filter(col("o_orderkey") % 10 =!= 7)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        AuditOps.snapshotDiff(oldSnap, newSnap, "o_orderkey",
          Seq("o_custkey", "o_orderpriority", "o_totalprice"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS k, o_custkey, o_orderpriority, o_totalprice
             |        FROM orders WHERE o_orderkey % 10 <> 3),
             |n AS (SELECT o_orderkey AS k, o_custkey, o_orderpriority,
             |        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
             |      FROM orders WHERE o_orderkey % 10 <> 7),
             |j AS (SELECT coalesce(o.k, n.k) AS k,
             |        CASE WHEN o.k IS NULL THEN 'added'
             |             WHEN n.k IS NULL THEN 'removed'
             |             WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
             |                   AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority
             |                   AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) THEN 'changed'
             |             ELSE 'unchanged' END AS status
             |      FROM o FULL OUTER JOIN n ON o.k = n.k)
             |SELECT status, CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(k) AS BIGINT) AS key_checksum
             |FROM j GROUP BY status ORDER BY status""".stripMargin)),

    // ---- ML-PREP: per-class winsorization audit with RANK-based
    // (discrete) percentile bounds — bounds are actual data values, so
    // every clip decision replays exactly in any engine; interpolated
    // bounds would put `v < bound` one ulp from flipping
    // (dfw/TransformOps.winsorizeStats). ceil(p·n) is forced to DOUBLE
    // on the oracle side: DuckDB's 0.05 literal is DECIMAL and its
    // exact arithmetic rounds ceil() differently from IEEE. ----
    ("t_winsorize",
      (s: SparkSession, dir: String) => {
        TransformOps.winsorizeStats(
          Tables.load(s, dir, "lineitem")
            .select(col("l_returnflag").as("cls"), col("l_extendedprice")),
          Seq("cls"), "l_extendedprice", p = 0.05)
      },
      Some("""WITH v AS (SELECT l_returnflag AS cls, CAST(l_extendedprice AS DOUBLE) AS v
             |        FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |r AS (SELECT cls, v, CAST(row_number() OVER (PARTITION BY cls ORDER BY v) AS BIGINT) AS rn FROM v),
             |t AS (SELECT cls,
             |        greatest(CAST(1 AS BIGINT), CAST(ceil(CAST(0.05 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS BIGINT)) AS rlo,
             |        CAST(count(*) AS BIGINT) + 1 - greatest(CAST(1 AS BIGINT), CAST(ceil(CAST(0.05 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS BIGINT)) AS rhi
             |      FROM v GROUP BY cls),
             |b AS (SELECT r.cls, min(CASE WHEN r.rn = t.rlo THEN r.v END) AS lo_bound,
             |        min(CASE WHEN r.rn = t.rhi THEN r.v END) AS hi_bound
             |      FROM r JOIN t ON r.cls = t.cls GROUP BY r.cls)
             |SELECT v.cls, CAST(count(*) AS BIGINT) AS n, b.lo_bound, b.hi_bound,
             |  CAST(sum(CASE WHEN v.v < b.lo_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
             |  CAST(sum(CASE WHEN v.v > b.hi_bound THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
             |  round(avg(v.v), 4) AS mean_raw,
             |  round(avg(greatest(b.lo_bound, least(b.hi_bound, v.v))), 4) AS mean_wins
             |FROM v JOIN b ON v.cls = b.cls
             |GROUP BY v.cls, b.lo_bound, b.hi_bound ORDER BY v.cls""".stripMargin)),

    // ---- CURATION: per-source quota cap — at most 50 docs per source,
    // picked by the engine-neutral md5 key hash so membership AND the
    // selection rank replay in the oracle; the row_number<=quota filter
    // plans as a WindowGroupLimit (map-side top-k before the shuffle)
    // (dfw/TransformOps.quotaSample). ----
    ("w_quota_sample",
      (s: SparkSession, dir: String) => {
        TransformOps.quotaSample(
            Tables.load(s, dir, "documents").select("doc_id", "source", "n_chars"),
            "source", "doc_id", quota = 50,
            hash = k => DedupOps.md5TokenHash(k.cast("string")))
          .orderBy(col("source"), col("pick"))
      },
      Some("""WITH h AS (SELECT doc_id, source, n_chars,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS BIGINT) AS pick
             |  FROM documents)
             |SELECT doc_id, source, n_chars, pick FROM h WHERE pick <= 50
             |ORDER BY source, pick""".stripMargin)),

    // ---- X2: blocked edit-distance similarity join on part names —
    // the blocking-key ER shape beside x2_sorted_neighborhood: equi-
    // join on (brand, size) blocks, length-band prefilter, then the
    // threshold (banded-DP) levenshtein (llm/DedupOps.editDistanceJoin).
    // ----
    ("x2_editdist_join",
      (s: SparkSession, dir: String) => {
        DedupOps.editDistanceJoin(
            Tables.load(s, dir, "part"), "p_partkey", "p_name",
            Seq(col("p_brand"), col("p_size")), maxDist = 12)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
             |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             |  AND a.p_partkey < b.p_partkey
             |  AND abs(len(a.p_name) - len(b.p_name)) <= 12
             |WHERE levenshtein(a.p_name, b.p_name) <= 12
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- X6: watermark lateness audit — replay the arrival-ordered
    // event log's high-water mark (scalable prefix-max, never a
    // single-task global window: dfw/WindowOps.prefixMaxScalable) and
    // count, per candidate watermark delay, the events a streaming
    // dedup/agg with that watermark would have dropped. ----
    ("x6_late_arrivals",
      (s: SparkSession, dir: String) => {
        val ev = Tables.load(s, dir, "events").select(col("event_id"), col("ts"))
        val lat = WindowOps
          .prefixMaxScalable(ev, col("event_id"), col("ts"))
          .select((unix_micros(col("run_max")) - unix_micros(col("ts"))).as("lat_us"))
        lat.agg(count(lit(1)).as("n_total"),
            sum(when(col("lat_us") > 0L, 1L).otherwise(0L)).as("late0"),
            sum(when(col("lat_us") > 60L * 1000000L, 1L).otherwise(0L)).as("late60"),
            sum(when(col("lat_us") > 600L * 1000000L, 1L).otherwise(0L)).as("late600"),
            sum(when(col("lat_us") > 3600L * 1000000L, 1L).otherwise(0L)).as("late3600"))
          .select(expr("stack(4, 0, late0, 60, late60, 600, late600, 3600, late3600) AS (thr_s, n_late)"),
            col("n_total"))
          .withColumn("late_frac",
            round(col("n_late").cast("double") / col("n_total").cast("double"), 6))
          .orderBy(col("thr_s"))
      },
      Some("""WITH w AS (SELECT ts, max(ts) OVER (ORDER BY event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm FROM events),
             |l AS (SELECT date_diff('microsecond', ts, wm) AS lat_us FROM w),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
             |    CAST(sum(CASE WHEN lat_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS late0,
             |    CAST(sum(CASE WHEN lat_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS late60,
             |    CAST(sum(CASE WHEN lat_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS late600,
             |    CAST(sum(CASE WHEN lat_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS late3600
             |  FROM l)
             |SELECT 0 AS thr_s, late0 AS n_late, n_total, round(CAST(late0 AS DOUBLE) / n_total, 6) AS late_frac FROM a
             |UNION ALL SELECT 60, late60, n_total, round(CAST(late60 AS DOUBLE) / n_total, 6) FROM a
             |UNION ALL SELECT 600, late600, n_total, round(CAST(late600 AS DOUBLE) / n_total, 6) FROM a
             |UNION ALL SELECT 3600, late3600, n_total, round(CAST(late3600 AS DOUBLE) / n_total, 6) FROM a
             |ORDER BY thr_s""".stripMargin)),

    // ---- X4: Zipf slope of the corpus frequency spectrum — regress
    // ln(freq) on ln(rank) over the global top-300 tokens (TakeOrdered
    // cut, single-task tail bounded by the parameter, not the corpus)
    // (llm/TextOps.zipfSlope). ----
    ("x4_zipf_slope",
      (s: SparkSession, dir: String) => {
        TextOps.zipfSlope(Tables.load(s, dir, "documents"), "text", topN = 300)
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok WHERE tok <> '' GROUP BY tok),
             |top AS (SELECT tok, freq FROM f ORDER BY freq DESC, tok LIMIT 300),
             |r AS (SELECT freq, CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank FROM top)
             |SELECT CAST(count(*) AS BIGINT) AS n_tokens,
             |  round(regr_slope(ln(freq), ln(rank)), 4) AS slope,
             |  round(regr_intercept(ln(freq), ln(rank)), 4) AS intercept,
             |  round(regr_r2(ln(freq), ln(rank)), 4) AS r2
             |FROM r""".stripMargin)),

    // ---- DRIFT: two-sample Kolmogorov–Smirnov on l_extendedprice,
    // early-era vs late-era shipments — empirical CDFs as scalable
    // prefix sums over the distinct-value table, never a single-task
    // global window (dfw/QuantileOps.ksTest on
    // WindowOps.prefixSumScalable). ----
    ("q_ks_test",
      (s: SparkSession, dir: String) => {
        graft.dfw.QuantileOps.ksTest(
          Tables.load(s, dir, "lineitem").select("l_extendedprice", "l_shipdate"),
          "l_extendedprice", col("l_shipdate") < lit("1996-01-01"))
      },
      Some("""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             |    CASE WHEN l_shipdate < DATE '1996-01-01' THEN 1 ELSE 0 END AS r
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |c AS (SELECT v, CAST(sum(r) AS BIGINT) AS rn,
             |    CAST(count(*) - sum(r) AS BIGINT) AS cn FROM s GROUP BY v),
             |t AS (SELECT CAST(sum(rn) AS BIGINT) AS n_ref, CAST(sum(cn) AS BIGINT) AS n_cur FROM c),
             |w AS (SELECT v, CAST(sum(rn) OVER (ORDER BY v) AS BIGINT) AS crn,
             |    CAST(sum(cn) OVER (ORDER BY v) AS BIGINT) AS ccn FROM c),
             |g AS (SELECT v, abs(CAST(crn AS DOUBLE) / CAST(t.n_ref AS DOUBLE)
             |      - CAST(ccn AS DOUBLE) / CAST(t.n_cur AS DOUBLE)) AS gap FROM w, t),
             |m AS (SELECT max(gap) AS d FROM g),
             |a AS (SELECT min(v) AS ks_at FROM g, m WHERE g.gap = m.d)
             |SELECT t.n_ref, t.n_cur, CAST(round(m.d * 1000000) AS BIGINT) AS d_ppm, a.ks_at,
             |  round(2 * exp(-2 * m.d * m.d * CAST(t.n_ref * t.n_cur AS DOUBLE)
             |    / CAST(t.n_ref + t.n_cur AS DOUBLE)), 6) AS p_value
             |FROM t, m, a""".stripMargin)),

    // ---- DRIFT: chi-squared homogeneity + Cramér's V on the
    // o_orderpriority mix, early vs late order years — the categorical
    // drift gate beside q_psi_drift/q_ks_test; per-category
    // contributions quantized to micro-units before the sum
    // (dfw/QuantileOps.chi2Drift). ----
    ("q_chi2_drift",
      (s: SparkSession, dir: String) => {
        graft.dfw.QuantileOps.chi2Drift(Tables.load(s, dir, "orders"),
          col("o_orderpriority"), year(col("o_orderdate")) < 1996)
      },
      Some("""WITH s AS (SELECT o_orderpriority AS cat,
             |    CASE WHEN year(o_orderdate) < 1996 THEN 1 ELSE 0 END AS r FROM orders),
             |c AS (SELECT cat, CAST(sum(r) AS BIGINT) AS rn,
             |    CAST(count(*) - sum(r) AS BIGINT) AS cn FROM s GROUP BY cat),
             |t AS (SELECT CAST(sum(rn) AS BIGINT) AS n_ref, CAST(sum(cn) AS BIGINT) AS n_cur,
             |    CAST(count(*) AS BIGINT) AS n_cats FROM c),
             |x AS (SELECT CAST(round((
             |      (CAST(rn AS DOUBLE) - CAST(rn + cn AS DOUBLE) * CAST(t.n_ref AS DOUBLE) / CAST(t.n_ref + t.n_cur AS DOUBLE))
             |        * (CAST(rn AS DOUBLE) - CAST(rn + cn AS DOUBLE) * CAST(t.n_ref AS DOUBLE) / CAST(t.n_ref + t.n_cur AS DOUBLE))
             |        / (CAST(rn + cn AS DOUBLE) * CAST(t.n_ref AS DOUBLE) / CAST(t.n_ref + t.n_cur AS DOUBLE))
             |      + (CAST(cn AS DOUBLE) - CAST(rn + cn AS DOUBLE) * CAST(t.n_cur AS DOUBLE) / CAST(t.n_ref + t.n_cur AS DOUBLE))
             |        * (CAST(cn AS DOUBLE) - CAST(rn + cn AS DOUBLE) * CAST(t.n_cur AS DOUBLE) / CAST(t.n_ref + t.n_cur AS DOUBLE))
             |        / (CAST(rn + cn AS DOUBLE) * CAST(t.n_cur AS DOUBLE) / CAST(t.n_ref + t.n_cur AS DOUBLE))
             |    ) * 1000000) AS BIGINT) AS cq FROM c, t)
             |SELECT t.n_ref, t.n_cur, t.n_cats, CAST(t.n_cats - 1 AS BIGINT) AS dof,
             |  CAST(sum(cq) AS BIGINT) AS chi2_q,
             |  CAST(CAST(sum(cq) AS BIGINT) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS chi2,
             |  round(sqrt(CAST(CAST(sum(cq) AS BIGINT) AS DOUBLE) / CAST(1000000 AS DOUBLE)
             |    / CAST(t.n_ref + t.n_cur AS DOUBLE)), 6) AS cramers_v
             |FROM x, t GROUP BY t.n_ref, t.n_cur, t.n_cats""".stripMargin)),

    // ---- AUDIT: delete-one-block jackknife SE for the A/B mean
    // difference — deterministic replicates (leave-one-hash-block-out)
    // where bootstrap draws would not replay across engines; arm and
    // block come from independent md5 key hashes so the oracle
    // reproduces the full assignment (dfw/AuditOps.blockJackknifeDiff
    // beside q_ab_test's Welch t). ----
    ("q_jackknife_se",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("variant",
            pmod(DedupOps.md5TokenHash(col("user_id").cast("string")), lit(2)).cast("int"))
          .withColumn("block",
            pmod(DedupOps.md5TokenHash(concat(lit("b:"), col("user_id").cast("string"))), lit(50)))
        AuditOps.blockJackknifeDiff(perUser, col("variant"), col("n_events"), col("block"))
      },
      Some("""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
             |v AS (SELECT x,
             |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS variant,
             |    CAST(('0x' || substr(md5('b:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 50 AS b
             |  FROM u),
             |c AS (SELECT b,
             |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS s0,
             |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m0,
             |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS s1,
             |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1
             |  FROM v GROUP BY b),
             |t AS (SELECT CAST(sum(s0) AS BIGINT) AS t0, CAST(sum(m0) AS BIGINT) AS n0,
             |    CAST(sum(s1) AS BIGINT) AS t1, CAST(sum(m1) AS BIGINT) AS n1,
             |    CAST(count(*) AS BIGINT) AS nb FROM c),
             |r AS (SELECT CAST(round((CAST(t.t1 - c.s1 AS DOUBLE) / CAST(t.n1 - c.m1 AS DOUBLE)
             |      - CAST(t.t0 - c.s0 AS DOUBLE) / CAST(t.n0 - c.m0 AS DOUBLE)) * 1000000) AS BIGINT) AS tq
             |  FROM c, t),
             |a AS (SELECT CAST(sum(tq) AS BIGINT) AS sq, CAST(sum(tq * tq) AS BIGINT) AS sq2 FROM r),
             |f AS (SELECT t.nb, t.n0, t.n1,
             |    round(CAST(t.t1 AS DOUBLE) / CAST(t.n1 AS DOUBLE)
             |      - CAST(t.t0 AS DOUBLE) / CAST(t.n0 AS DOUBLE), 6) AS mean_diff,
             |    sqrt(CAST(t.nb - 1 AS DOUBLE) / CAST(t.nb * t.nb AS DOUBLE)
             |      * CAST(t.nb * a.sq2 - a.sq * a.sq AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS se
             |  FROM t, a)
             |SELECT nb AS n_blocks, n0, n1, mean_diff,
             |  round(se, 6) AS se_jack, round(mean_diff / se, 4) AS z
             |FROM f""".stripMargin)),

    // ---- X4: lexical-diversity profile per source — type-token ratio
    // and hapax share, the corpus-health companion to x4_zipf_slope
    // (llm/TextOps.typeTokenStats). ----
    ("x4_ttr_hapax",
      (s: SparkSession, dir: String) => {
        TextOps.typeTokenStats(Tables.load(s, dir, "documents"), "source", "text")
      },
      Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
             |f AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS f
             |      FROM tok WHERE tok <> '' GROUP BY 1, 2)
             |SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types,
             |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             |  CAST(count(*) * 1000000 // sum(f) AS BIGINT) AS ttr_ppm,
             |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS hapax_ppm
             |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // ---- X2: directed shingle-containment pairs — the asymmetric
    // near-dup relation (a doc swallowed by a larger one has tiny
    // Jaccard but containment ≈ 1); inverted-index join, exact ppm
    // verdicts (llm/DedupOps.containmentPairs). Uncapped df for the
    // oracle; production passes maxDocFreq. ----
    ("x2_containment",
      (s: SparkSession, dir: String) => {
        val sh = DedupOps.wordShingles(Tables.load(s, dir, "documents"), "doc_id", "text", 5)
        DedupOps.containmentPairs(sh, minContainPpm = 200000L, maxDocFreq = Int.MaxValue)
          .orderBy(col("doc_id"), col("container_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |       FROM t WHERE len(toks) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh FROM s0),
             |z AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM s GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(count(*) AS BIGINT) AS inter
             |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |d AS (SELECT doc1 AS doc_id, doc2 AS container_id, inter FROM p
             |      UNION ALL SELECT doc2, doc1, inter FROM p),
             |j AS (SELECT d.doc_id, d.container_id, d.inter, z.n_sh,
             |        CAST(d.inter * 1000000 // z.n_sh AS BIGINT) AS contain_ppm
             |      FROM d JOIN z USING (doc_id))
             |SELECT doc_id, container_id, inter, n_sh, contain_ppm FROM j
             |WHERE contain_ppm >= 200000 ORDER BY doc_id, container_id""".stripMargin)),

    // ---- X3: embedding-health audit per label — mean norm, mean-
    // resultant length, and the EXACT average pairwise cosine from
    // ‖Σû‖² − Σ‖û‖² (one linear pass, no pair join; the collapse/
    // anisotropy gate before any ANN result is trusted)
    // (llm/SimilarityOps.embeddingHealth). ----
    ("x3_embed_health",
      (s: SparkSession, dir: String) => {
        SimilarityOps.embeddingHealth(Tables.load(s, dir, "embeddings"),
          "label", "embedding")
      },
      Some("""WITH v AS (SELECT label,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |  FROM embeddings),
             |n2 AS (SELECT label, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |nz AS (SELECT * FROM n2 WHERE n2 > 0),
             |u AS (SELECT label, n2,
             |    list_transform(q, x -> CAST(round(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)
             |      / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT)) AS u
             |  FROM nz),
             |un AS (SELECT label, u, CAST(list_sum(list_transform(u, x -> x * x)) AS BIGINT) AS un2,
             |    CAST(round(sqrt(CAST(n2 AS DOUBLE)) * CAST(1000 AS DOUBLE)) AS BIGINT) AS normq
             |  FROM u),
             |e AS (SELECT label, u, unnest(range(0, len(u))) AS j FROM un),
             |xx AS (SELECT label, j, u[CAST(j AS INT) + 1] AS uv FROM e),
             |d AS (SELECT label, j, CAST(sum(uv) AS HUGEINT) AS su FROM xx GROUP BY 1, 2),
             |m AS (SELECT label, sum(su * su) AS msq FROM d GROUP BY label),
             |b AS (SELECT label, CAST(count(*) AS BIGINT) AS n, sum(normq) AS snorm,
             |    sum(un2) AS sun2 FROM un GROUP BY label)
             |SELECT b.label, b.n,
             |  round(CAST(b.snorm AS DOUBLE) / CAST(b.n AS DOUBLE) / CAST(1000000 AS DOUBLE), 4) AS avg_norm,
             |  round(sqrt(CAST(m.msq AS DOUBLE)) / CAST(b.n AS DOUBLE) / CAST(1000000 AS DOUBLE), 6) AS mean_resultant,
             |  CASE WHEN b.n > 1 THEN
             |    round((CAST(m.msq AS DOUBLE) - CAST(b.sun2 AS DOUBLE))
             |      / CAST(b.n * (b.n - 1) AS DOUBLE) / CAST(1000000000000 AS DOUBLE), 6)
             |  END AS avg_pair_cos
             |FROM b JOIN m USING (label) ORDER BY label""".stripMargin)),

    // ---- X4: hybrid retrieval — reciprocal-rank fusion of the BM25
    // lexical top-50 and the dense cosine top-50 (query doc 0's
    // embedding) into one top-20, integer nano-unit RRF scores
    // (llm/TextOps.rrfFuse over bm25TopK + bruteForceTopK). ----
    ("x4_hybrid_rrf",
      (s: SparkSession, dir: String) => {
        val docs = Tables.load(s, dir, "documents")
        val emb = Tables.load(s, dir, "embeddings")
        val lex = TextOps.bm25TopK(docs, "doc_id", "text",
            Seq("hash", "join", "merge", "window", "stream"), topK = 50)
          .select(col("doc_id"), col("rnk"))
        val dense = SimilarityOps.bruteForceTopK(
            emb.filter(col("vec_id") === 0L), emb, "vec_id", "embedding", 50)
          .select(col("neighbor_id").as("doc_id"), col("rank").as("rnk"))
        TextOps.rrfFuse(Seq(lex, dense), "doc_id", topK = 20).orderBy(col("rnk"))
      },
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
             |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
             |toks AS (SELECT doc_id, unnest(toks) AS term FROM base),
             |hits AS (SELECT doc_id, term FROM toks
             |         WHERE term IN ('hash', 'join', 'merge', 'window', 'stream')),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             |       FROM hits GROUP BY doc_id, term),
             |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             |       FROM hits GROUP BY term),
             |sc AS (SELECT tf.doc_id,
             |         ln(1.0 + (CAST(c.n_docs - dfq.df AS DOUBLE) + 0.5) / (CAST(dfq.df AS DOUBLE) + 0.5))
             |           * (CAST(tf.tf AS DOUBLE) * 2.2)
             |           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / c.avgdl))
             |           AS contrib
             |       FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), corpus c),
             |agg AS (SELECT doc_id,
             |          CAST(sum(CAST(round(contrib * 1000000) AS BIGINT)) AS BIGINT) AS score_q
             |        FROM sc GROUP BY doc_id),
             |lex AS (SELECT doc_id, rnk FROM (SELECT doc_id,
             |          row_number() OVER (ORDER BY score_q DESC, doc_id) AS rnk FROM agg)
             |        WHERE rnk <= 50),
             |v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |p AS (SELECT b.vec_id AS neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        a.n2 AS qa, b.n2 AS qb
             |      FROM n a JOIN n b ON a.vec_id = 0 AND a.vec_id <> b.vec_id),
             |r AS (SELECT neighbor_id, CAST(dot AS DOUBLE) / sqrt(CAST(qa * qb AS DOUBLE)) AS cosine FROM p),
             |den AS (SELECT neighbor_id AS doc_id, rnk FROM (SELECT neighbor_id,
             |          row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS rnk FROM r)
             |        WHERE rnk <= 50),
             |ca AS (SELECT doc_id, CAST(round(CAST(1000000000 AS DOUBLE)
             |          / (60 + CAST(rnk AS DOUBLE))) AS BIGINT) AS c FROM lex
             |       UNION ALL
             |       SELECT doc_id, CAST(round(CAST(1000000000 AS DOUBLE)
             |          / (60 + CAST(rnk AS DOUBLE))) AS BIGINT) FROM den),
             |f AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_q,
             |        CAST(count(*) AS BIGINT) AS n_lists FROM ca GROUP BY doc_id),
             |rk AS (SELECT doc_id, n_lists, rrf_q,
             |        row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS rnk FROM f)
             |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, n_lists, rrf_q
             |FROM rk WHERE rnk <= 20 ORDER BY rnk""".stripMargin)),

    // ---- AUDIT: Gini concentration + top-decile share of per-user
    // event counts — exact inequality from the DISTINCT-VALUE table
    // (ties collapse: no per-row rank, one prefix-sum pass)
    // (dfw/AuditOps.giniConcentration). ----
    ("q_gini",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
        AuditOps.giniConcentration(perUser, col("x"))
      },
      Some("""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
             |c AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY x),
             |w AS (SELECT x, cnt, CAST(sum(cnt) OVER (ORDER BY x) AS BIGINT) AS run_cnt,
             |        CAST(sum(x * cnt) OVER (ORDER BY x) AS BIGINT) AS run_vs FROM c),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(x * cnt) AS BIGINT) AS s FROM c),
             |k AS (SELECT sum(CAST(x AS HUGEINT) *
             |        (cnt * (run_cnt - cnt) + cnt * (cnt + 1) // 2)) AS c2 FROM w),
             |b AS (SELECT CAST(run_vs - x * (run_cnt - (t.n - t.n // 10)) AS BIGINT) AS vs_at
             |      FROM w, t WHERE run_cnt - cnt < t.n - t.n // 10
             |        AND run_cnt >= t.n - t.n // 10)
             |SELECT t.n, t.s AS total,
             |  round(CAST(k.c2 * 2 - (CAST(t.n AS HUGEINT) + 1) * t.s AS DOUBLE)
             |    / (CAST(t.n AS DOUBLE) * CAST(t.s AS DOUBLE)), 6) AS gini,
             |  round(CAST(t.s - b.vs_at AS DOUBLE) / CAST(t.s AS DOUBLE), 6) AS top10_share
             |FROM t, k, b""".stripMargin)),

    // ---- X4: Dunning G² keyness — per source, the top-5 tokens most
    // over-represented vs the rest of the corpus (characteristic-terms
    // / slice-boilerplate report); signed by an exact integer
    // over/under test, scores quantized per row
    // (llm/TextOps.keynessTopK). ----
    ("x4_keyness",
      (s: SparkSession, dir: String) => {
        TextOps.keynessTopK(Tables.load(s, dir, "documents"), "source", "text", k = 5)
      },
      Some("""WITH tokx AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS a
             |       FROM tokx WHERE tok <> '' GROUP BY 1, 2),
             |tt AS (SELECT tok, CAST(sum(a) AS BIGINT) AS ab FROM tf GROUP BY tok),
             |st AS (SELECT source, CAST(sum(a) AS BIGINT) AS r1 FROM tf GROUP BY source),
             |g AS (SELECT CAST(sum(r1) AS BIGINT) AS nn FROM st),
             |sc AS (SELECT tf.source, tf.tok, tf.a, tt.ab - tf.a AS b, st.r1, tt.ab, g.nn,
             |    CAST(st.r1 AS DOUBLE) * CAST(tt.ab AS DOUBLE) / CAST(g.nn AS DOUBLE) AS ea,
             |    CAST(g.nn - st.r1 AS DOUBLE) * CAST(tt.ab AS DOUBLE) / CAST(g.nn AS DOUBLE) AS eb
             |  FROM tf JOIN tt USING (tok) JOIN st USING (source), g),
             |g2 AS (SELECT source, tok, a, ea,
             |    2.0 * (CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) / ea) +
             |      CASE WHEN b > 0 THEN CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE) / eb)
             |           ELSE 0.0 END) AS g2,
             |    CASE WHEN CAST(a AS HUGEINT) * nn > CAST(r1 AS HUGEINT) * ab
             |         THEN 1 ELSE -1 END AS sgn
             |  FROM sc),
             |q AS (SELECT source, tok, a AS obs, round(ea, 4) AS exp,
             |    CASE WHEN sgn = 1 THEN CAST(round(g2 * 1000000) AS BIGINT)
             |         ELSE -CAST(round(g2 * 1000000) AS BIGINT) END AS g2_q
             |  FROM g2),
             |r AS (SELECT q.*, row_number() OVER (PARTITION BY source
             |        ORDER BY g2_q DESC, tok) AS rnk FROM q)
             |SELECT source, CAST(rnk AS BIGINT) AS rnk, tok, obs, exp, g2_q
             |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin)),

    // ---- MAINTENANCE: compaction plan for a small-files inventory
    // (per event_type×day "files") — consecutive-by-key bins at a
    // 256 KiB target via the exact cumulative-offset rule on scalable
    // prefix sums; clustering survives the rewrite so min/max pruning
    // still works (sources/LayoutOps.compactionPlan). ----
    ("m4_compaction_plan",
      (s: SparkSession, dir: String) => {
        val files = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg((count(lit(1)) * 200L).as("bytes"))
          .select(concat_ws(":", col("event_type"), col("day")).as("fkey"), col("bytes"))
        graft.sources.LayoutOps.compactionPlan(files, col("fkey"), col("bytes"),
          targetBytes = 256L * 1024)
      },
      Some("""WITH f AS (SELECT event_type || ':' || strftime(ts, '%Y-%m-%d') AS fkey,
             |      CAST(count(*) * 200 AS BIGINT) AS b FROM events GROUP BY 1),
             |w AS (SELECT fkey, b, CAST(sum(b) OVER (ORDER BY fkey) AS BIGINT) AS run FROM f),
             |p AS (SELECT fkey, b, CAST((run - 1) // 262144 AS BIGINT) AS bin FROM w)
             |SELECT bin, CAST(count(*) AS BIGINT) AS n_files, CAST(sum(b) AS BIGINT) AS bin_bytes,
             |  min(fkey) AS key_min, max(fkey) AS key_max
             |FROM p GROUP BY bin ORDER BY bin""".stripMargin)),

    // ---- CURRICULUM: easy→hard schedule in 4 equal-TOKEN phases,
    // difficulty = corpus-trained LM surprisal (the same replayable
    // statistic as x4_lm_surprisal); phase cut by cumulative token
    // budget on scalable prefix sums
    // (dfw/TransformOps.curriculumPhases). ----
    ("w_curriculum",
      (s: SparkSession, dir: String) => {
        val scored = TextOps.lmSurprisal(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        TransformOps.curriculumPhases(scored, "doc_id",
          col("avg_surprisal"), col("n_tokens"), nPhases = 4)
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
             |tot AS (SELECT sum(tf) AS total FROM tf),
             |sq AS (SELECT toks.doc_id,
             |         CAST(round(-ln(CAST(tf.tf AS DOUBLE) / tot.total) * 1000000) AS BIGINT) AS sq
             |       FROM toks JOIN tf USING (tok), tot),
             |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |        CAST(sum(sq) AS DOUBLE) / 1000000.0 / count(*) AS avg_s
             |      FROM sq GROUP BY doc_id),
             |w AS (SELECT doc_id, n_tokens, avg_s,
             |        CAST(sum(n_tokens) OVER (ORDER BY avg_s, doc_id) AS BIGINT) AS run FROM d),
             |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS s FROM d),
             |p AS (SELECT w.*, CAST((run - 1)
             |        // CAST(ceil(CAST(t.s AS DOUBLE) / 4) AS BIGINT) AS BIGINT) AS phase
             |      FROM w, t)
             |SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
             |  round(min(avg_s), 6) AS min_difficulty,
             |  round(max(avg_s), 6) AS max_difficulty
             |FROM p GROUP BY phase ORDER BY phase""".stripMargin)),

    // ---- ML-PREP: mutual-information feature ranking — I(bin(f);
    // returnflag) per lineitem feature in one melted pass, nano-unit
    // quantized cell contributions (dfw/TransformOps
    // .mutualInfoRanking). ----
    ("t_mutual_info",
      (s: SparkSession, dir: String) => {
        TransformOps.mutualInfoRanking(
          Tables.load(s, dir, "lineitem")
            .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          "l_returnflag", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), nb = 8)
      },
      Some("""WITH m AS (
             |  SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS v, l_returnflag AS y
             |    FROM lineitem WHERE l_quantity IS NOT NULL
             |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE), l_returnflag
             |    FROM lineitem WHERE l_extendedprice IS NOT NULL
             |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE), l_returnflag
             |    FROM lineitem WHERE l_discount IS NOT NULL
             |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE), l_returnflag
             |    FROM lineitem WHERE l_tax IS NOT NULL),
             |st AS (SELECT feature, min(v) AS mn, max(v) AS mx, CAST(count(*) AS BIGINT) AS n
             |       FROM m GROUP BY feature),
             |bb AS (SELECT m.feature, st.n, m.y,
             |    CASE WHEN st.mx = st.mn THEN CAST(0 AS BIGINT)
             |         ELSE least(CAST(7 AS BIGINT),
             |           CAST(floor((m.v - st.mn) / (st.mx - st.mn) * 8) AS BIGINT)) END AS b
             |  FROM m JOIN st USING (feature)),
             |cells AS (SELECT feature, n, b, y, CAST(count(*) AS BIGINT) AS c
             |          FROM bb GROUP BY 1, 2, 3, 4),
             |rt AS (SELECT feature, b, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY 1, 2),
             |ct AS (SELECT feature, y, CAST(sum(c) AS BIGINT) AS s FROM cells GROUP BY 1, 2),
             |mi AS (SELECT cells.feature, cells.n,
             |    CAST(sum(CAST(round(CAST(c AS DOUBLE) / CAST(cells.n AS DOUBLE)
             |      * ln(CAST(c AS DOUBLE) * CAST(cells.n AS DOUBLE)
             |          / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE)))
             |      * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS mi_q
             |  FROM cells JOIN rt USING (feature, b) JOIN ct USING (feature, y)
             |  GROUP BY cells.feature, cells.n)
             |SELECT feature, n, mi_q,
             |  round(CAST(mi_q AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) AS mi,
             |  CAST(row_number() OVER (ORDER BY mi_q DESC, feature) AS BIGINT) AS rnk
             |FROM mi ORDER BY rnk""".stripMargin)),

    // ---- AUDIT: Benford first-digit spectrum of o_totalprice —
    // leading digit extracted in exact integer space (cents → decimal
    // rendering), per-digit chi-squared contributions vs log10(1+1/d)
    // (dfw/AuditOps.benfordAudit). ----
    ("q_benford",
      (s: SparkSession, dir: String) => {
        AuditOps.benfordAudit(Tables.load(s, dir, "orders"), col("o_totalprice"))
      },
      Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
             |        AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
             |      FROM orders WHERE CAST(o_totalprice AS DOUBLE) * 100 > 0),
             |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY digit),
             |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tt FROM c),
             |e AS (SELECT digit, cnt, t.tt,
             |    ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE))
             |      / ln(CAST(10 AS DOUBLE)) AS p
             |  FROM c, t)
             |SELECT digit, cnt, CAST(cnt * 1000000 // tt AS BIGINT) AS obs_ppm,
             |  CAST(round(p * CAST(1000000 AS DOUBLE)) AS BIGINT) AS exp_ppm,
             |  CAST(round((CAST(cnt AS DOUBLE) - CAST(tt AS DOUBLE) * p)
             |    * (CAST(cnt AS DOUBLE) - CAST(tt AS DOUBLE) * p)
             |    / (CAST(tt AS DOUBLE) * p) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS chi2_q
             |FROM e ORDER BY digit""".stripMargin)),

    // ---- G5: bounded-round k-core peeling on the customer⋈supplier
    // link graph — per round, drop degree<k nodes with their edges and
    // report the shrinking core; all-integer rows replayed by the
    // unrolled oracle (llm/GraphOps.kCoreProbe, same bounded-probe
    // contract as g4_label_prop). ----
    ("g5_kcore",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey").cast("long") * 2).as("src"),
            (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        GraphOps.kCoreProbe(cs, "src", "dst", k = 10, rounds = 3)
      },
      Some("""WITH cs AS (SELECT CAST(o_custkey * 2 AS BIGINT) AS a,
             |      CAST(l_suppkey * 2 + 1 AS BIGINT) AS b
             |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM (SELECT a, b FROM cs WHERE a <> b
             |       UNION ALL SELECT b, a FROM cs WHERE a <> b)),
             |d1 AS (SELECT a, count(*) AS deg FROM e0 GROUP BY a),
             |k1 AS (SELECT a FROM d1 WHERE deg >= 10),
             |e1 AS MATERIALIZED (SELECT e0.a, e0.b FROM e0 JOIN k1 x ON e0.a = x.a JOIN k1 y ON e0.b = y.a),
             |d2 AS (SELECT a, count(*) AS deg FROM e1 GROUP BY a),
             |k2 AS (SELECT a FROM d2 WHERE deg >= 10),
             |e2 AS MATERIALIZED (SELECT e1.a, e1.b FROM e1 JOIN k2 x ON e1.a = x.a JOIN k2 y ON e1.b = y.a),
             |d3 AS (SELECT a, count(*) AS deg FROM e2 GROUP BY a),
             |k3 AS (SELECT a FROM d3 WHERE deg >= 10),
             |e3 AS MATERIALIZED (SELECT e2.a, e2.b FROM e2 JOIN k3 x ON e2.a = x.a JOIN k3 y ON e2.b = y.a),
             |n1 AS (SELECT DISTINCT a FROM e1), n2 AS (SELECT DISTINCT a FROM e2),
             |n3 AS (SELECT DISTINCT a FROM e3)
             |SELECT CAST(1 AS BIGINT) AS round,
             |  CAST((SELECT count(*) FROM n1) AS BIGINT) AS n_nodes,
             |  CAST((SELECT count(*) FROM e1) AS BIGINT) AS n_edges,
             |  CAST(coalesce((SELECT sum(a) FROM n1), 0) AS BIGINT) AS node_checksum
             |UNION ALL SELECT 2, CAST((SELECT count(*) FROM n2) AS BIGINT),
             |  CAST((SELECT count(*) FROM e2) AS BIGINT),
             |  CAST(coalesce((SELECT sum(a) FROM n2), 0) AS BIGINT)
             |UNION ALL SELECT 3, CAST((SELECT count(*) FROM n3) AS BIGINT),
             |  CAST((SELECT count(*) FROM e3) AS BIGINT),
             |  CAST(coalesce((SELECT sum(a) FROM n3), 0) AS BIGINT)
             |ORDER BY round""".stripMargin)),

    // ---- ML-PREP: feature-hashing collision audit — distinct
    // (feature, value) pairs onto 16 hashed slots with the
    // engine-neutral md5 key hash; the dimensionality-vs-collision
    // check before a hashed feature space ships
    // (dfw/TransformOps.featureHashAudit). ----
    ("t_feature_hash",
      (s: SparkSession, dir: String) => {
        TransformOps.featureHashAudit(
          Tables.load(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"), nBuckets = 16,
          hash = c => DedupOps.md5TokenHash(c))
      },
      Some("""WITH m AS (SELECT 'c_mktsegment' AS feature, CAST(c_mktsegment AS VARCHAR) AS v
             |    FROM customer WHERE c_mktsegment IS NOT NULL
             |  UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR)
             |    FROM customer WHERE c_nationkey IS NOT NULL),
             |d AS (SELECT DISTINCT feature, v FROM m),
             |b AS (SELECT feature, v,
             |    CAST(('0x' || substr(md5(feature || ':' || v), 1, 15)) AS BIGINT) % 16 AS bucket
             |  FROM d),
             |l AS (SELECT feature, bucket, CAST(count(*) AS BIGINT) AS load
             |      FROM b GROUP BY 1, 2)
             |SELECT feature, CAST(sum(load) AS BIGINT) AS n_values,
             |  CAST(count(*) AS BIGINT) AS n_buckets_used,
             |  CAST(sum(load) - count(*) AS BIGINT) AS n_collisions,
             |  CAST(max(load) AS BIGINT) AS max_bucket_load
             |FROM l GROUP BY feature ORDER BY feature""".stripMargin)),

    // ---- TIME-SERIES: per-type OLS trend of the daily mean event
    // value on the day index — "is this metric drifting" as one
    // map-side-combinable aggregate over exact milli-quantized daily
    // means; slope/intercept/R² are doubles over exact int64 sums
    // (dfw/TimeSeriesOps.trendOls). ----
    ("q_trend_ols",
      (s: SparkSession, dir: String) => {
        val daily = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
          .agg(sum(round(col("value") * 1000).cast("long")).as("__sq"),
            count(lit(1)).as("__cnt"))
          .select(col("event_type"),
            datediff(col("__day"), lit("2024-01-01")).cast("long").as("__x"),
            expr("__sq div __cnt").as("__y"))
        graft.dfw.TimeSeriesOps.trendOls(daily, "event_type", col("__x"), col("__y"))
          .orderBy(col("event_type"))
      },
      Some("""WITH d AS (SELECT event_type,
             |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
             |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             |      // CAST(count(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1, CAST(ts AS DATE)),
             |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM d GROUP BY 1)
             |SELECT event_type, n AS n_points,
             |  CASE WHEN n * sxx - sx * sx <> 0 THEN
             |    round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             |  END AS slope,
             |  CASE WHEN n * sxx - sx * sx <> 0 THEN
             |    round((CAST(sy AS DOUBLE)
             |      - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
             |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             |  END AS intercept,
             |  CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
             |    round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
             |      / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
             |  END AS r2
             |FROM s ORDER BY event_type""".stripMargin)),

    // ---- TIME-SERIES: lag-1 autocorrelation of the same daily-mean
    // series — seasonality probe beside q_trend_ols's monotone drift;
    // consecutive pairs come from a keyed self equi-join on (type,
    // day+1), never a window (dfw/TimeSeriesOps.lagAutocorr). ----
    ("q_autocorr",
      (s: SparkSession, dir: String) => {
        val daily = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
          .agg(sum(round(col("value") * 1000).cast("long")).as("__sq"),
            count(lit(1)).as("__cnt"))
          .select(col("event_type"),
            datediff(col("__day"), lit("2024-01-01")).cast("long").as("__x"),
            expr("__sq div __cnt").as("__y"))
        graft.dfw.TimeSeriesOps.lagAutocorr(daily, "event_type", col("__x"), col("__y"))
          .orderBy(col("event_type"))
      },
      Some("""WITH d AS (SELECT event_type,
             |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
             |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             |      // CAST(count(*) AS BIGINT) AS v
             |  FROM events GROUP BY 1, CAST(ts AS DATE)),
             |pr AS (SELECT a.event_type, a.v AS x, b.v AS y
             |  FROM d a JOIN d b ON a.event_type = b.event_type AND b.t = a.t + 1),
             |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM pr GROUP BY 1)
             |SELECT event_type, n AS n_pairs,
             |  CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
             |    round(CAST(n * sxy - sx * sy AS DOUBLE)
             |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
             |  END AS r_lag
             |FROM s ORDER BY event_type""".stripMargin)),

    // ---- TIME-SERIES: CUSUM changepoint on the daily event-count
    // series — the day maximizing |Σ(x_i − x̄)|, located by exact
    // integer comparison on a scaled scan statistic (T·run − t·total)
    // built from the distributed prefix sum, never a driver loop
    // (dfw/TimeSeriesOps.cusumChangepoint). ----
    ("q_cusum",
      (s: SparkSession, dir: String) => {
        val daily = Tables.load(s, dir, "events")
          .groupBy(to_date(col("ts")).as("__day"))
          .agg(count(lit(1)).as("__cnt"))
          .select(datediff(col("__day"), lit("2024-01-01")).cast("long").as("__t"),
            col("__cnt"))
        graft.dfw.TimeSeriesOps.cusumChangepoint(daily, col("__t"), col("__cnt"))
      },
      Some("""WITH d AS (SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
             |    CAST(count(*) AS BIGINT) AS v FROM events GROUP BY 1),
             |tt AS (SELECT CAST(sum(v) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS tn FROM d),
             |r AS (SELECT t, CAST(sum(v) OVER (ORDER BY t) AS BIGINT) AS rv,
             |    CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn FROM d),
             |g AS (SELECT t, rv, rn, tt.tn * rv - rn * tt.tot AS g FROM r, tt),
             |m AS (SELECT max(abs(g)) AS gm FROM g),
             |p AS (SELECT g.t, g.rv, g.rn, g.g FROM g, m WHERE abs(g.g) = m.gm
             |      ORDER BY g.t LIMIT 1)
             |SELECT tt.tn AS n_ticks, tt.tot AS total, p.t AS cp_tick,
             |  CAST(abs(p.g) AS BIGINT) AS g_abs_max,
             |  round(CAST(p.rv AS DOUBLE) / CAST(p.rn AS DOUBLE), 6) AS mean_before,
             |  CASE WHEN p.rn < tt.tn THEN
             |    round(CAST(tt.tot - p.rv AS DOUBLE) / CAST(tt.tn - p.rn AS DOUBLE), 6)
             |  END AS mean_after
             |FROM tt, p""".stripMargin)),

    // ---- AUDIT: CUPED variance-reduced A/B readout (Deng et al.
    // 2013) — per-user pre-period event count as the covariate for
    // the post-period count; pooled θ and per-arm adjusted means from
    // exact int64 sums, arm membership by the engine-neutral md5 key
    // hash (dfw/AuditOps.cupedAdjust beside q_ab_test/q_jackknife_se).
    // ----
    ("q_cuped",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(sum(when(col("ts") < lit("2024-01-16"), 1L).otherwise(0L)).as("x_pre"),
            sum(when(col("ts") >= lit("2024-01-16"), 1L).otherwise(0L)).as("y_post"))
          .withColumn("variant",
            pmod(DedupOps.md5TokenHash(col("user_id").cast("string")), lit(2)).cast("int"))
        AuditOps.cupedAdjust(perUser, col("variant"), col("x_pre"), col("y_post"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS y
             |  FROM events GROUP BY 1),
             |v AS (SELECT x, y,
             |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS variant
             |  FROM u),
             |p AS (SELECT CAST(count(*) AS BIGINT) AS pn,
             |    CAST(sum(x) AS BIGINT) AS psx, CAST(sum(y) AS BIGINT) AS psy,
             |    CAST(sum(x * y) AS BIGINT) AS psxy, CAST(sum(x * x) AS BIGINT) AS psxx,
             |    CAST(sum(y * y) AS BIGINT) AS psyy FROM v),
             |a AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
             |  FROM v GROUP BY 1),
             |f AS (SELECT a.variant, a.n, a.sx, a.sy, p.pn, p.psx,
             |    CASE WHEN p.pn * p.psxx - p.psx * p.psx <> 0 THEN
             |      CAST(p.pn * p.psxy - p.psx * p.psy AS DOUBLE)
             |        / CAST(p.pn * p.psxx - p.psx * p.psx AS DOUBLE)
             |    ELSE 0 END AS theta,
             |    p.pn * p.psxx - p.psx * p.psx AS dxx,
             |    p.pn * p.psyy - p.psy * p.psy AS dyy,
             |    p.pn * p.psxy - p.psx * p.psy AS dxy
             |  FROM a, p)
             |SELECT variant, n,
             |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_pre,
             |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_y,
             |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
             |    - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |      - CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE)), 6) AS mean_y_adj,
             |  round(theta, 6) AS theta,
             |  CASE WHEN dxx <> 0 AND dyy <> 0 THEN
             |    round(CAST(dxy AS DOUBLE) * CAST(dxy AS DOUBLE)
             |      / (CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 6)
             |  ELSE 0 END AS rho2
             |FROM f ORDER BY variant""".stripMargin)),

    // ---- X1/X2: URL canonicalization + canonical-URL dedup — messy
    // crawl URLs (case-shifted scheme/host, :443, tracking params,
    // trailing slash, fragments) synthesized deterministically from
    // doc_id, collapsed by the codegen regexp canonicalizer; the
    // oracle derives each row's canonical form DIRECTLY from the
    // synthesis parameters, pinning the regex chain to the semantic
    // truth rather than to another regex engine
    // (llm/DedupOps.canonicalizeUrl/urlCanonDedup). ----
    ("x2_url_canon",
      (s: SparkSession, dir: String) => {
        val host = concat(lit("www."), col("source"), lit(".com"))
        val url = concat(
          when(col("doc_id") % 7 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 6 === 0, upper(host)).otherwise(host),
          when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
          lit("/docs/"), (col("doc_id") % 500).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit("?utm_source=feed&utm_campaign=x&id="),
              (col("doc_id") % 50).cast("string")))
            .otherwise(concat(lit("?id="), (col("doc_id") % 50).cast("string"))),
          when(col("doc_id") % 11 === 0, lit("#sec2")).otherwise(lit("")))
        val raw = Tables.load(s, dir, "documents")
          .select(col("doc_id"), url.as("raw_url"))
        DedupOps.urlCanonDedup(raw, col("raw_url"), col("doc_id"))
          .orderBy(col("canon_url"))
      },
      Some("""WITH r AS (SELECT doc_id,
             |    (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
             |    (CASE WHEN doc_id % 6 = 0 THEN upper('www.' || source || '.com')
             |          ELSE 'www.' || source || '.com' END) ||
             |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
             |    '/docs/' || CAST(doc_id % 500 AS VARCHAR) ||
             |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
             |    (CASE WHEN doc_id % 2 = 0
             |          THEN '?utm_source=feed&utm_campaign=x&id=' || CAST(doc_id % 50 AS VARCHAR)
             |          ELSE '?id=' || CAST(doc_id % 50 AS VARCHAR) END) ||
             |    (CASE WHEN doc_id % 11 = 0 THEN '#sec2' ELSE '' END) AS raw_url,
             |    'https://www.' || source || '.com/docs/' || CAST(doc_id % 500 AS VARCHAR)
             |      || '?id=' || CAST(doc_id % 50 AS VARCHAR) AS canon_url
             |  FROM documents)
             |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_forms,
             |  CAST(min(doc_id) AS BIGINT) AS keep_id
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- X6: per-day categorical-mix PSI against a fixed uniform
    // reference — the batch twin of the streaming ingest drift gate
    // (streaming/StreamOps.mixDriftWindowed; the stream runs the SAME
    // body with a watermark, state = live windows × k+2 counters).
    // Per-category (p−q)·ln(p/q) terms quantize to micro-units BEFORE
    // the k-term sum, the q_psi_drift discipline. ----
    ("x6_mix_drift",
      (s: SparkSession, dir: String) => {
        val ref = Seq("click", "error", "purchase", "signup", "view")
          .map(_ -> 200000L)
        StreamOps.mixDriftWindowed(Tables.load(s, dir, "events"),
            "event_type", ref, "1 day")
          .orderBy(col("ws"))
      },
      Some("""WITH w AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type,
             |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
             |t AS (SELECT ws, CAST(sum(c) AS BIGINT) AS n_rows,
             |    CAST(sum(c) AS BIGINT) AS n_invocab FROM w GROUP BY 1),
             |r AS (SELECT * FROM (VALUES ('click', 200000), ('error', 200000),
             |    ('purchase', 200000), ('signup', 200000), ('view', 200000))
             |    AS r(cat, qppm)),
             |j AS (SELECT t.ws, t.n_rows, t.n_invocab, r.qppm,
             |    CAST(coalesce(w.c, 0) AS BIGINT) AS c
             |  FROM t CROSS JOIN r
             |  LEFT JOIN w ON w.ws = t.ws AND w.event_type = r.cat),
             |q AS (SELECT ws, n_rows, n_invocab,
             |    CAST(round((
             |      (CAST(c AS DOUBLE) + CAST(1 AS DOUBLE)) / (CAST(n_invocab AS DOUBLE) + CAST(5 AS DOUBLE))
             |        - CAST(qppm + 1 AS DOUBLE) / CAST(1000005 AS DOUBLE))
             |      * ln(((CAST(c AS DOUBLE) + CAST(1 AS DOUBLE)) / (CAST(n_invocab AS DOUBLE) + CAST(5 AS DOUBLE)))
             |        / (CAST(qppm + 1 AS DOUBLE) / CAST(1000005 AS DOUBLE)))
             |      * 1000000) AS BIGINT) AS tq
             |  FROM j)
             |SELECT ws, n_rows, n_invocab, CAST(sum(tq) AS BIGINT) AS psi_q
             |FROM q GROUP BY 1, 2, 3 ORDER BY ws""".stripMargin)),

    // ---- X4: top-k bigram collocations by PMI (Church & Hanks 1990)
    // — vocabulary-keyed count aggregates, one quantized ln over exact
    // counts, and a TakeOrderedAndProject cut with a total order
    // (llm/TextOps.pmiCollocations beside x4_bigram_surprisal's LM).
    // ----
    ("x4_pmi_collocations",
      (s: SparkSession, dir: String) => {
        TextOps.pmiCollocations(Tables.load(s, dir, "documents"),
          "doc_id", "text", minCount = 5L, topK = 40)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             |tk AS (SELECT a[i] AS w, CASE WHEN i > 1 THEN a[i - 1] END AS v
             |       FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM t)),
             |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS uw FROM tk GROUP BY w),
             |ut AS (SELECT CAST(sum(uw) AS BIGINT) AS ut FROM uni),
             |bt AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM tk WHERE v IS NOT NULL),
             |bi AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw FROM tk
             |       WHERE v IS NOT NULL GROUP BY v, w HAVING count(*) >= 5),
             |p AS (SELECT bi.v, bi.w, bi.c_vw,
             |    CAST(round(ln((CAST(bi.c_vw AS DOUBLE) / bt.bt)
             |      / ((CAST(u1.uw AS DOUBLE) / ut.ut) * (CAST(u2.uw AS DOUBLE) / ut.ut)))
             |      * 1000000) AS BIGINT) AS pmi_q
             |  FROM bi JOIN uni u1 ON bi.v = u1.w JOIN uni u2 ON bi.w = u2.w
             |  CROSS JOIN ut CROSS JOIN bt)
             |SELECT v, w, c_vw, pmi_q FROM p
             |ORDER BY pmi_q DESC, v, w LIMIT 40""".stripMargin)),

    // ---- AUDIT: classifier-score calibration — reliability bins,
    // integer-exact ECE, micro-quantized Brier; score synthesized as
    // hash-noise + a label shift so bins overlap realistically
    // (dfw/AuditOps.calibrationAudit). ----
    ("q_calibration",
      (s: SparkSession, dir: String) => {
        val label = when(col("lang") === "en", 1L).otherwise(0L)
        val score = pmod(DedupOps.md5TokenHash(col("doc_id").cast("string")),
            lit(700)).cast("double") / lit(1000.0) +
          label.cast("double") * lit(0.3)
        AuditOps.calibrationAudit(
          Tables.load(s, dir, "documents")
            .select(score.as("score"), label.as("y")),
          col("score"), col("y"), nb = 10)
      },
      Some("""WITH d AS (SELECT
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 700 AS h,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
             |s AS (SELECT CAST(h AS DOUBLE) / CAST(1000 AS DOUBLE)
             |    + CAST(y AS DOUBLE) * CAST(0.3 AS DOUBLE) AS sc, y FROM d),
             |b AS (SELECT least(CAST(9 AS BIGINT), CAST(floor(sc * 10) AS BIGINT)) AS bucket,
             |    CAST(y AS BIGINT) AS y,
             |    CAST(round(sc * 1000000) AS BIGINT) AS sq,
             |    CAST(round((sc - CAST(y AS DOUBLE)) * (sc - CAST(y AS DOUBLE)) * 1000000) AS BIGINT) AS bq
             |  FROM s),
             |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
             |    CAST(sum(sq) AS BIGINT) AS ssq, CAST(sum(bq) AS BIGINT) AS sbq FROM b GROUP BY 1),
             |g2 AS (SELECT bucket, n, n_pos, ssq // n AS mean_pred_ppm,
             |    n_pos * 1000000 // n AS obs_ppm, sbq FROM g),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |    CAST(sum(n * abs(mean_pred_ppm - obs_ppm)) AS BIGINT) AS ecen,
             |    CAST(sum(sbq) AS BIGINT) AS briern FROM g2)
             |SELECT bucket, n, n_pos, CAST(mean_pred_ppm AS BIGINT) AS mean_pred_ppm,
             |  CAST(obs_ppm AS BIGINT) AS obs_ppm,
             |  CAST(t.ecen // t.nn AS BIGINT) AS ece_ppm,
             |  CAST(t.briern // t.nn AS BIGINT) AS brier_ppm
             |FROM g2, t ORDER BY bucket""".stripMargin)),

    // ---- AUDIT: Cohen's kappa between the event label and a
    // hash-corrupted second annotation (every 5th label collapsed to
    // 'error') — chance-corrected agreement from exact integer
    // marginals, the labeled-data acceptance gate
    // (dfw/AuditOps.cohenKappa). ----
    ("q_cohen_kappa",
      (s: SparkSession, dir: String) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type").as("r1"),
            when(pmod(DedupOps.md5TokenHash(
              concat(lit("k:"), col("event_id").cast("string"))), lit(5)) === 0,
              lit("error")).otherwise(col("event_type")).as("r2"))
        AuditOps.cohenKappa(ev, col("r1"), col("r2"))
      },
      Some("""WITH p AS (SELECT event_type AS r1,
             |    CASE WHEN CAST(('0x' || substr(md5('k:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 = 0
             |      THEN 'error' ELSE event_type END AS r2 FROM events),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS agree FROM p),
             |m1 AS (SELECT r1 AS cat, CAST(count(*) AS BIGINT) AS n1 FROM p GROUP BY 1),
             |m2 AS (SELECT r2 AS cat, CAST(count(*) AS BIGINT) AS n2 FROM p GROUP BY 1),
             |e AS (SELECT sum(n1 * n2) AS pev FROM m1 JOIN m2 USING (cat)),
             |f AS (SELECT t.n, t.agree,
             |    CAST(t.agree AS DOUBLE) / CAST(t.n AS DOUBLE) AS po,
             |    CAST(e.pev AS DOUBLE) / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)) AS pe
             |  FROM t, e)
             |SELECT n, agree AS n_agree, round(po, 6) AS po, round(pe, 6) AS pe,
             |  CASE WHEN pe <> 1.0 THEN round((po - pe) / (1.0 - pe), 6) END AS kappa
             |FROM f""".stripMargin)),

    // ---- ML-PREP: exact-size weighted sample without replacement —
    // Efraimidis–Spirakis priorities from the engine-neutral md5 key
    // hash, nano-quantized, cut by TakeOrderedAndProject with a total
    // order (dfw/TransformOps.sampleWeightedTopK beside the Bernoulli
    // t_sample_weighted). ----
    ("w_sample_topk_weighted",
      (s: SparkSession, dir: String) => {
        TransformOps.sampleWeightedTopK(
          Tables.load(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", k = 100,
          hash = c => DedupOps.md5TokenHash(c.cast("string")))
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars,
             |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 + 1 AS DOUBLE)
             |      / CAST(1000000 AS DOUBLE) AS u
             |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
             |SELECT doc_id, source, n_chars,
             |  CAST(round(-ln(u) / CAST(n_chars AS DOUBLE) * 1000000000) AS BIGINT) AS es_key_q
             |FROM d ORDER BY es_key_q, doc_id LIMIT 100""".stripMargin)),

    // ---- MAINTENANCE: column-profile diff across the same simulated
    // table rewrite m3_snapshot_diff classifies row-wise — per-column
    // counts/nulls/distincts/min/max on both sides from ONE aggregation
    // pass per side (dfw/AuditOps.profileDiff). ----
    ("m4_profile_diff",
      (s: SparkSession, dir: String) => {
        val orders = Tables.load(s, dir, "orders")
        val oldSnap = orders.filter(col("o_orderkey") % 10 =!= 3)
          .select(col("o_custkey"), col("o_totalprice"))
        val newSnap = orders.filter(col("o_orderkey") % 10 =!= 7)
          .select(col("o_custkey"),
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")).as("o_totalprice"))
        AuditOps.profileDiff(oldSnap, newSnap, Seq("o_custkey", "o_totalprice"))
      },
      Some("""WITH o AS (SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 3),
             |nn AS (SELECT o_custkey,
             |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
             |  FROM orders WHERE o_orderkey % 10 <> 7),
             |p1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul1,
             |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS d1,
             |    CAST(min(o_custkey) AS DOUBLE) AS mn1, CAST(max(o_custkey) AS DOUBLE) AS mx1,
             |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul2,
             |    CAST(count(DISTINCT o_totalprice) AS BIGINT) AS d2,
             |    CAST(min(o_totalprice) AS DOUBLE) AS mn2, CAST(max(o_totalprice) AS DOUBLE) AS mx2
             |  FROM o),
             |p2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul1,
             |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS d1,
             |    CAST(min(o_custkey) AS DOUBLE) AS mn1, CAST(max(o_custkey) AS DOUBLE) AS mx1,
             |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul2,
             |    CAST(count(DISTINCT o_totalprice) AS BIGINT) AS d2,
             |    CAST(min(o_totalprice) AS DOUBLE) AS mn2, CAST(max(o_totalprice) AS DOUBLE) AS mx2
             |  FROM nn)
             |SELECT 'o_custkey' AS col_name, p1.n AS n_old, p2.n AS n_new,
             |  p1.nul1 AS nulls_old, p2.nul1 AS nulls_new,
             |  p1.d1 AS distinct_old, p2.d1 AS distinct_new,
             |  p1.mn1 AS min_old, p2.mn1 AS min_new, p1.mx1 AS max_old, p2.mx1 AS max_new
             |FROM p1, p2
             |UNION ALL
             |SELECT 'o_totalprice', p1.n, p2.n, p1.nul2, p2.nul2, p1.d2, p2.d2,
             |  p1.mn2, p2.mn2, p1.mx2, p2.mx2
             |FROM p1, p2
             |ORDER BY col_name""".stripMargin)),

    // ---- FUNNEL: last-touch attribution — every purchase credited to
    // the user's most recent preceding click/view via the as-of join's
    // union-and-carry-forward shape (one user-keyed shuffle, no range
    // join), rolled up per synthesized channel
    // (dfw/FunnelOps.lastTouchAttribution over dfw/AsofOps.asofJoin).
    // ----
    ("q_attribution",
      (s: SparkSession, dir: String) => {
        FunnelOps.lastTouchAttribution(Tables.load(s, dir, "events"),
          "user_id", "event_type", "ts", "event_id", "value",
          convType = "purchase", touchTypes = Seq("click", "view"),
          channel = concat(lit("ch"),
            pmod(DedupOps.md5TokenHash(
              concat(lit("c:"), col("event_id").cast("string"))), lit(3))
              .cast("string")))
      },
      Some("""WITH t AS (SELECT user_id, ts, event_id, 0 AS side,
             |    'ch' || CAST(CAST(('0x' || substr(md5('c:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS VARCHAR) AS channel,
             |    CAST(NULL AS DOUBLE) AS value
             |  FROM events WHERE event_type IN ('click', 'view')),
             |c AS (SELECT user_id, ts, event_id, 1 AS side, CAST(NULL AS VARCHAR) AS channel, value
             |  FROM events WHERE event_type = 'purchase'),
             |u AS (SELECT * FROM t UNION ALL SELECT * FROM c),
             |f AS (SELECT side, value,
             |    last_value(channel IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, side, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
             |  FROM u),
             |g AS (SELECT coalesce(ch, 'unattributed') AS channel, CAST(count(*) AS BIGINT) AS n_conv,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
             |  FROM f WHERE side = 1 GROUP BY 1),
             |tt AS (SELECT CAST(sum(n_conv) AS BIGINT) AS tot FROM g)
             |SELECT channel, n_conv, sum_value_cents,
             |  CAST(n_conv * 1000000 // tt.tot AS BIGINT) AS share_ppm
             |FROM g, tt ORDER BY channel""".stripMargin)),

    // ---- TIME-SERIES: truncated-kernel EWMA (α=0.3, W=10) of the
    // daily mean series as an exact bounded convolution — the
    // sequential recurrence cannot distribute, the FIR form is one
    // order-free integer aggregate; the same quantized taps are
    // inlined into the oracle (dfw/TimeSeriesOps.firFilter /
    // ewmaKernelPpm). ----
    ("q_ewma",
      (s: SparkSession, dir: String) => {
        val daily = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
          .agg(sum(round(col("value") * 1000).cast("long")).as("__sq"),
            count(lit(1)).as("__cnt"))
          .select(col("event_type"),
            datediff(col("__day"), lit("2024-01-01")).cast("long").as("__x"),
            expr("__sq div __cnt").as("__y"))
        graft.dfw.TimeSeriesOps.firFilter(daily, "event_type",
          col("__x"), col("__y"),
          graft.dfw.TimeSeriesOps.ewmaKernelPpm(0.3, 10))
      },
      Some {
        val taps = graft.dfw.TimeSeriesOps.ewmaKernelPpm(0.3, 10).zipWithIndex
          .map { case (w, i) => s"($i, $w)" }.mkString(", ")
        s"""WITH d AS (SELECT event_type,
           |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
           |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
           |      // CAST(count(*) AS BIGINT) AS v
           |  FROM events GROUP BY 1, CAST(ts AS DATE)),
           |k AS (SELECT * FROM (VALUES $taps) AS k(i, w)),
           |c AS (SELECT d.event_type, d.t + k.i AS out_tick, d.v * k.w AS c
           |      FROM d CROSS JOIN k)
           |SELECT event_type, CAST(out_tick AS BIGINT) AS out_tick,
           |  CAST(sum(c) // 1000000 AS BIGINT) AS out_q,
           |  CAST(count(*) AS BIGINT) AS n_terms
           |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // ---- AUDIT: k-arm pairwise z-tests with an explicit Bonferroni
    // critical value (4 arms → 6 pairs → z* = Φ⁻¹(1−0.05/12) ≈
    // 2.6383) — multi-variant experiments read uncorrected pairwise
    // tests at their peril (dfw/AuditOps.pairwiseZTests beside
    // q_ab_test). ----
    ("q_ab_multi",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("variant",
            pmod(DedupOps.md5TokenHash(col("user_id").cast("string")), lit(4)).cast("int"))
        AuditOps.pairwiseZTests(perUser, col("variant"), col("n_events"),
          zCrit = 2.6383)
      },
      Some("""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
             |v AS (SELECT x,
             |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS v
             |  FROM u),
             |a AS (SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(x * x) AS BIGINT) AS sxx FROM v GROUP BY 1),
             |p AS (SELECT a.v AS variant_a, b.v AS variant_b, a.n AS n_a, b.n AS n_b,
             |    CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
             |    CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
             |    (CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE) - CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE))
             |      / sqrt(CAST(a.n * a.sxx - a.sx * a.sx AS DOUBLE)
             |          / (CAST(a.n AS DOUBLE) * CAST(a.n - 1 AS DOUBLE)) / a.n
             |        + CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE)
             |          / (CAST(b.n AS DOUBLE) * CAST(b.n - 1 AS DOUBLE)) / b.n) AS z
             |  FROM a, a AS b WHERE a.v < b.v)
             |SELECT variant_a, variant_b, n_a, n_b,
             |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, round(z, 4) AS z,
             |  abs(z) > CAST(2.6383 AS DOUBLE) AS significant
             |FROM p ORDER BY variant_a, variant_b""".stripMargin)),

    // ---- AUDIT: pairwise Pearson correlation matrix over per-user
    // engagement metrics — ONE aggregation pass computes every
    // cross-sum, each r is a rounded double over exact int64 sums
    // (dfw/AuditOps.corrMatrix). ----
    ("q_corr_matrix",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"))
        AuditOps.corrMatrix(perUser, Seq("n_click", "n_view", "n_purchase"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
             |  FROM events GROUP BY 1),
             |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(a * a) AS BIGINT) AS saa,
             |    CAST(sum(b) AS BIGINT) AS sb, CAST(sum(b * b) AS BIGINT) AS sbb,
             |    CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc,
             |    CAST(sum(a * b) AS BIGINT) AS sab, CAST(sum(a * c) AS BIGINT) AS sac,
             |    CAST(sum(b * c) AS BIGINT) AS sbc
             |  FROM u)
             |SELECT 'n_click' AS col_a, 'n_view' AS col_b, n,
             |  CASE WHEN n * saa - sa * sa <> 0 AND n * sbb - sb * sb <> 0 THEN
             |    round(CAST(n * sab - sa * sb AS DOUBLE)
             |      / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * sbb - sb * sb AS DOUBLE)), 6)
             |  END AS r FROM s
             |UNION ALL
             |SELECT 'n_click', 'n_purchase', n,
             |  CASE WHEN n * saa - sa * sa <> 0 AND n * scc - sc * sc <> 0 THEN
             |    round(CAST(n * sac - sa * sc AS DOUBLE)
             |      / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * scc - sc * sc AS DOUBLE)), 6)
             |  END FROM s
             |UNION ALL
             |SELECT 'n_view', 'n_purchase', n,
             |  CASE WHEN n * sbb - sb * sb <> 0 AND n * scc - sc * sc <> 0 THEN
             |    round(CAST(n * sbc - sb * sc AS DOUBLE)
             |      / sqrt(CAST(n * sbb - sb * sb AS DOUBLE) * CAST(n * scc - sc * sc AS DOUBLE)), 6)
             |  END FROM s
             |ORDER BY col_a, col_b""".stripMargin)),

    // ---- TIME-SERIES: Kaplan–Meier survival over per-user activity
    // spans (churn = last seen before day 23, else censored) — the
    // sequential survival product as a log-domain scalable prefix sum,
    // hazard terms micro-quantized from exact at-risk counts
    // (dfw/TimeSeriesOps.kaplanMeier on WindowOps.prefixSumScalable).
    // ----
    ("q_kaplan_meier",
      (s: SparkSession, dir: String) => {
        val spans = Tables.load(s, dir, "events")
          .select(col("user_id"),
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("__d"))
          .groupBy(col("user_id"))
          .agg(min(col("__d")).as("__f"), max(col("__d")).as("__l"))
          .select((col("__l") - col("__f")).as("dur"),
            when(col("__l") < 23, 1L).otherwise(0L).as("ev"))
        graft.dfw.TimeSeriesOps.kaplanMeier(spans, col("dur"), col("ev"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    CAST(min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS BIGINT) AS f,
             |    CAST(max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS BIGINT) AS l
             |  FROM events GROUP BY 1),
             |sp AS (SELECT l - f AS duration, CASE WHEN l < 23 THEN 1 ELSE 0 END AS e FROM u),
             |b AS (SELECT duration, CAST(sum(e) AS BIGINT) AS d,
             |    CAST(count(*) - sum(e) AS BIGINT) AS c FROM sp GROUP BY 1),
             |t AS (SELECT CAST(sum(d + c) AS BIGINT) AS nn FROM b),
             |r AS (SELECT duration, d, c,
             |    CAST(sum(d + c) OVER (ORDER BY duration) AS BIGINT) AS runrem FROM b),
             |a AS (SELECT r.duration, r.d, r.c,
             |    t.nn - (r.runrem - (r.d + r.c)) AS n_at_risk FROM r, t),
             |tm AS (SELECT duration, d, c, n_at_risk,
             |    CASE WHEN d = 0 THEN 0
             |         WHEN d < n_at_risk THEN CAST(round(
             |           ln(CAST(n_at_risk - d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)) * 1000000) AS BIGINT)
             |         ELSE -1000000000000 END AS tq
             |  FROM a),
             |f AS (SELECT duration, n_at_risk, d, c,
             |    CAST(sum(tq) OVER (ORDER BY duration) AS BIGINT) AS runln FROM tm)
             |SELECT duration, CAST(n_at_risk AS BIGINT) AS n_at_risk, d, c,
             |  CAST(round(exp(CAST(runln AS DOUBLE) / CAST(1000000 AS DOUBLE)) * 1000000) AS BIGINT) AS surv_ppm
             |FROM f ORDER BY duration""".stripMargin)),

    // ---- TIME-SERIES: weekly-seasonality strength — one-way variance
    // decomposition of the daily mean by weekday (η² + F), per-group
    // within-SS micro-quantized before the ≤7-term sum; weekday() =
    // isodow−1 on both engines, dodging the 1=Sunday dayofweek trap
    // (dfw/TimeSeriesOps.weekdaySeasonality beside q_trend_ols /
    // q_autocorr). ----
    ("q_seasonality",
      (s: SparkSession, dir: String) => {
        val daily = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
          .agg(sum(round(col("value") * 1000).cast("long")).as("__sq"),
            count(lit(1)).as("__cnt"))
          .select(col("event_type"), col("__day"),
            expr("__sq div __cnt").as("__y"))
        graft.dfw.TimeSeriesOps.weekdaySeasonality(daily, "event_type",
          col("__day"), col("__y"))
      },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             |      // CAST(count(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT event_type, isodow(day) - 1 AS g, CAST(count(*) AS BIGINT) AS ng,
             |    CAST(sum(y) AS BIGINT) AS sg, CAST(sum(y * y) AS BIGINT) AS ssg
             |  FROM d GROUP BY 1, 2),
             |gq AS (SELECT *, CAST(round((CAST(ssg AS DOUBLE)
             |    - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) * 1000000) AS BIGINT) AS sswq
             |  FROM g),
             |p AS (SELECT event_type, CAST(sum(ng) AS BIGINT) AS n_days,
             |    CAST(count(*) AS BIGINT) AS n_groups,
             |    CAST(sum(sg) AS BIGINT) AS sy, CAST(sum(ssg) AS BIGINT) AS syy,
             |    CAST(sum(sswq) AS BIGINT) AS sswq FROM gq GROUP BY 1),
             |e AS (SELECT event_type, n_days, n_groups,
             |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE) AS sst,
             |    CAST(sswq AS DOUBLE) / CAST(1000000 AS DOUBLE) AS ssw FROM p)
             |SELECT event_type, n_days, n_groups,
             |  CASE WHEN sst <> 0.0 THEN round(1.0 - ssw / sst, 6) END AS eta2,
             |  CASE WHEN n_groups > 1 AND ssw <> 0.0 AND n_days > n_groups THEN
             |    round(((sst - ssw) / CAST(n_groups - 1 AS DOUBLE))
             |      / (ssw / CAST(n_days - n_groups AS DOUBLE)), 4)
             |  END AS f_stat
             |FROM e ORDER BY event_type""".stripMargin)),

    // ---- STATS: Mann–Whitney U rank-sum test, purchase vs click
    // event values — the nonparametric A/B complement to q_ab_test's
    // Welch t; midranks via the value-grouped prefix-sum table,
    // doubled-U and tie term exact integers
    // (dfw/QuantileOps.mannWhitney beside ksTest). ----
    ("q_mannwhitney",
      (s: SparkSession, dir: String) => {
        graft.dfw.QuantileOps.mannWhitney(
          Tables.load(s, dir, "events")
            .where(col("event_type").isin("purchase", "click")),
          "value", col("event_type") === "purchase")
      },
      Some("""WITH s AS (SELECT CAST(value AS DOUBLE) AS v,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS r
             |  FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
             |c AS (SELECT v, CAST(sum(r) AS BIGINT) AS rn,
             |    CAST(count(*) - sum(r) AS BIGINT) AS cn FROM s GROUP BY v),
             |w AS (SELECT rn, cn, rn + cn AS tt,
             |    CAST(sum(rn + cn) OVER (ORDER BY v) AS BIGINT) AS cum FROM c),
             |t AS (SELECT CAST(sum(rn) AS BIGINT) AS n_ref, CAST(sum(cn) AS BIGINT) AS n_cur FROM c),
             |a AS (SELECT CAST(sum(rn * (2 * (cum - tt) + tt + 1)) AS BIGINT) AS r2,
             |    CAST(sum(tt * tt * tt - tt) AS BIGINT) AS tie_term FROM w),
             |f AS (SELECT t.n_ref, t.n_cur, a.r2 - t.n_ref * (t.n_ref + 1) AS u2, a.tie_term,
             |    CAST(t.n_ref * t.n_cur AS DOUBLE) AS nn,
             |    CAST(t.n_ref + t.n_cur AS DOUBLE) AS bn FROM t, a)
             |SELECT n_ref, n_cur, u2 AS u2_ref, tie_term,
             |  CASE WHEN nn > 0 THEN round(CAST(u2 AS DOUBLE) / (2.0 * nn), 6) END AS auc,
             |  CASE WHEN nn > 0 AND bn > 1.0
             |      AND nn / 12.0 * (bn + 1.0 - CAST(tie_term AS DOUBLE) / (bn * (bn - 1.0))) > 0.0
             |    THEN round((CAST(u2 AS DOUBLE) - nn) / (2.0 * sqrt(
             |      nn / 12.0 * (bn + 1.0 - CAST(tie_term AS DOUBLE) / (bn * (bn - 1.0))))), 4)
             |  END AS z
             |FROM f""".stripMargin)),

    // ---- STATS: quantile treatment effect — per-quantile gap of the
    // per-user engagement value between two md5-hash arms; both arms'
    // quantiles from the rank-select exact path, metric quantized to
    // micro-units before the per-user sum so the quantile inputs are
    // bit-identical across engines (dfw/QuantileOps
    // .quantileTreatmentEffect on exactQuantiles). ----
    ("q_quantile_te",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg((sum(round(col("value") * 1e6).cast("long")).cast("double") / 1e6)
            .as("x"))
          .withColumn("arm",
            pmod(DedupOps.md5TokenHash(col("user_id").cast("string")), lit(2)))
        graft.dfw.QuantileOps.quantileTreatmentEffect(perUser, col("arm"), "x",
          Seq(0.25, 0.5, 0.75, 0.9))
      },
      Some("""WITH u AS (SELECT user_id,
             |    CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS x
             |  FROM events GROUP BY 1),
             |v AS (SELECT x,
             |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS arm
             |  FROM u WHERE x IS NOT NULL),
             |s AS (SELECT arm, quantile_cont(x, 0.25) AS q25, quantile_cont(x, 0.5) AS q50,
             |    quantile_cont(x, 0.75) AS q75, quantile_cont(x, 0.9) AS q90
             |  FROM v GROUP BY arm),
             |f AS (SELECT
             |    max(CASE WHEN arm = 0 THEN q25 END) AS c25, max(CASE WHEN arm = 1 THEN q25 END) AS t25,
             |    max(CASE WHEN arm = 0 THEN q50 END) AS c50, max(CASE WHEN arm = 1 THEN q50 END) AS t50,
             |    max(CASE WHEN arm = 0 THEN q75 END) AS c75, max(CASE WHEN arm = 1 THEN q75 END) AS t75,
             |    max(CASE WHEN arm = 0 THEN q90 END) AS c90, max(CASE WHEN arm = 1 THEN q90 END) AS t90
             |  FROM s)
             |SELECT * FROM (
             |  SELECT CAST(0.25 AS DOUBLE) AS q, round(c25, 6) AS ctrl, round(t25, 6) AS treat, round(t25 - c25, 6) AS diff FROM f
             |  UNION ALL SELECT CAST(0.5 AS DOUBLE), round(c50, 6), round(t50, 6), round(t50 - c50, 6) FROM f
             |  UNION ALL SELECT CAST(0.75 AS DOUBLE), round(c75, 6), round(t75, 6), round(t75 - c75, 6) FROM f
             |  UNION ALL SELECT CAST(0.9 AS DOUBLE), round(c90, 6), round(t90, 6), round(t90 - c90, 6) FROM f)
             |ORDER BY q""".stripMargin)),

    // ---- STATS: Poisson bootstrap CI for the mean event value — the
    // resampling scheme that distributes (each row draws R Poisson(1)
    // weights; replicate r never exists as data, only as a running
    // (Σwx, Σw) partial); weights from md5(key:rep) against fixed ppm
    // thresholds, so every replicate mean replays bit-identically
    // (dfw/AuditOps.poissonBootstrapMean). ----
    ("q_bootstrap_ci",
      (s: SparkSession, dir: String) => {
        AuditOps.poissonBootstrapMean(Tables.load(s, dir, "events"),
          col("event_id"), col("value"), reps = 200)
      },
      Some("""WITH b AS (SELECT CAST(event_id AS VARCHAR) AS k,
             |    CAST(round(value * 1000000) AS BIGINT) AS xq
             |  FROM events WHERE value IS NOT NULL),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS sx FROM b),
             |r AS (SELECT b.k, b.xq, g.rep FROM b CROSS JOIN (SELECT unnest(range(200)) AS rep) g),
             |w AS (SELECT rep, xq,
             |    CAST(('0x' || substr(md5(k || ':' || CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS u
             |  FROM r),
             |pw AS (SELECT rep, xq,
             |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 WHEN u < 919699 THEN 2
             |         WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
             |         WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7 ELSE 8 END AS wt
             |  FROM w),
             |rm AS (SELECT rep, CAST(sum(wt * xq) AS BIGINT) AS swx, CAST(sum(wt) AS BIGINT) AS sw
             |  FROM pw GROUP BY rep HAVING sum(wt) > 0),
             |mq AS (SELECT rep, CAST(round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)) AS BIGINT) AS m FROM rm),
             |rk AS (SELECT m, row_number() OVER (ORDER BY m, rep) AS rr FROM mq),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS ru, CAST(sum(m) AS HUGEINT) AS s1,
             |    CAST(sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS HUGEINT) AS s2 FROM mq),
             |bd AS (SELECT ru, s1, s2, CAST(ceil(ru * 0.025) AS BIGINT) AS rlo,
             |    CAST(ceil(ru * 0.975) AS BIGINT) AS rhi FROM st),
             |ci AS (SELECT bd.ru, bd.s1, bd.s2,
             |    min(CASE WHEN rk.rr = bd.rlo THEN rk.m END) AS lo,
             |    min(CASE WHEN rk.rr = bd.rhi THEN rk.m END) AS hi
             |  FROM rk, bd GROUP BY 1, 2, 3)
             |SELECT t.n, ci.ru AS reps_used,
             |  round(CAST(t.sx AS DOUBLE) / 1000000 / CAST(t.n AS DOUBLE), 6) AS mean,
             |  CASE WHEN ci.ru > 1 THEN round(sqrt(CAST(ci.s2 * ci.ru - ci.s1 * ci.s1 AS DOUBLE)
             |    / (CAST(ci.ru AS DOUBLE) * (CAST(ci.ru AS DOUBLE) - 1.0))) / 1000000, 6) END AS se_boot,
             |  round(CAST(ci.lo AS DOUBLE) / 1000000, 6) AS ci_lo,
             |  round(CAST(ci.hi AS DOUBLE) / 1000000, 6) AS ci_hi
             |FROM ci, t""".stripMargin)),

    // ---- STATS: Poisson bootstrap, PRODUCTION-HASH twin at the USER
    // grain — the resampling unit a real experiment platform uses
    // (users, not events), with replicate weights from codegen'd
    // xxhash64(user_id, rep) instead of md5("key:rep") strings (the
    // q_bootstrap_ci md5 anchor's dominant cost). ORACLE-EXACT like
    // q_srm_prod: Spark's two-arg xxhash64 chains each argument's hash
    // in as the next seed, so the oracle runs the XXH64 replica twice
    // (second pass seeded by the first's unsigned result) over
    // |users| × reps rows — user grain keeps that volume tiny.
    // (dfw/AuditOps.poissonBootstrapMean, pairHash). ----
    ("q_bootstrap_ci_prod",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg((sum(round(col("value") * 1e6).cast("long"))
            .cast("double") / 1e6).as("x"))
        AuditOps.poissonBootstrapMean(perUser, col("user_id"), col("x"),
          reps = 200, pairHash = Some((k, r) => xxhash64(k.cast("long"), r)))
      },
      Some(s"""WITH b AS (SELECT user_id AS k,
             |    CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS xq
             |  FROM events GROUP BY 1 HAVING sum(CAST(round(value * 1000000) AS BIGINT)) IS NOT NULL),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS sx FROM b),
             |${xxh64Stages("ka", "b", Seq("k"), "CAST(k AS HUGEINT)", "42")},
             |r AS (SELECT ka.k, ka.xx64u AS sd, g.rep
             |  FROM ka CROSS JOIN (SELECT unnest(range(200)) AS rep) g),
             |${xxh64Stages("kb", "r", Seq("k", "rep"), "CAST(rep AS HUGEINT)", "sd")},
             |w AS (SELECT kb.rep, b.xq, ((kb.xx64 % 1000000) + 1000000) % 1000000 AS u
             |  FROM kb JOIN b USING (k)),
             |pw AS (SELECT rep, xq,
             |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 WHEN u < 919699 THEN 2
             |         WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
             |         WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7 ELSE 8 END AS wt
             |  FROM w),
             |rm AS (SELECT rep, CAST(sum(wt * xq) AS BIGINT) AS swx, CAST(sum(wt) AS BIGINT) AS sw
             |  FROM pw GROUP BY rep HAVING sum(wt) > 0),
             |mq AS (SELECT rep, CAST(round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)) AS BIGINT) AS m FROM rm),
             |rk AS (SELECT m, row_number() OVER (ORDER BY m, rep) AS rr FROM mq),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS ru, CAST(sum(m) AS HUGEINT) AS s1,
             |    CAST(sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS HUGEINT) AS s2 FROM mq),
             |bd AS (SELECT ru, s1, s2, CAST(ceil(ru * 0.025) AS BIGINT) AS rlo,
             |    CAST(ceil(ru * 0.975) AS BIGINT) AS rhi FROM st),
             |ci AS (SELECT bd.ru, bd.s1, bd.s2,
             |    min(CASE WHEN rk.rr = bd.rlo THEN rk.m END) AS lo,
             |    min(CASE WHEN rk.rr = bd.rhi THEN rk.m END) AS hi
             |  FROM rk, bd GROUP BY 1, 2, 3)
             |SELECT t.n, ci.ru AS reps_used,
             |  round(CAST(t.sx AS DOUBLE) / 1000000 / CAST(t.n AS DOUBLE), 6) AS mean,
             |  CASE WHEN ci.ru > 1 THEN round(sqrt(CAST(ci.s2 * ci.ru - ci.s1 * ci.s1 AS DOUBLE)
             |    / (CAST(ci.ru AS DOUBLE) * (CAST(ci.ru AS DOUBLE) - 1.0))) / 1000000, 6) END AS se_boot,
             |  round(CAST(ci.lo AS DOUBLE) / 1000000, 6) AS ci_lo,
             |  round(CAST(ci.hi AS DOUBLE) / 1000000, 6) AS ci_hi
             |FROM ci, t""".stripMargin)),

    // ---- STATS: always-valid sequential test (mixture SPRT) — the
    // peek-any-day decision sequence modern platforms run instead of
    // fixed-horizon t-tests (Johari et al. 2017): per day, cumulative
    // exact integer sums → two-sample mixture log-likelihood-ratio →
    // sticky significance flag (running max of log Λ) at ln(1/α) (a
    // compile-time literal, no runtime ln in the verdict). Arms by
    // xxhash64(user_id) mod 2; the oracle replays the XXH64 replica
    // for the arm split, the same day-grain integer sums, and the
    // identical IEEE double sequence; the one ln term appears only in
    // the 6-dp-rounded log_lr (dfw/AuditOps.msprtDiff). ----
    ("q_msprt",
      (s: SparkSession, dir: String) => {
        AuditOps.msprtDiff(Tables.load(s, dir, "events"), col("ts"),
          pmod(xxhash64(col("user_id").cast("long")), lit(2)) === 0, col("value"),
          tau2 = 1.0)
      },
      Some(s"""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(round(value * 1000000) AS BIGINT) AS xq
             |  FROM events WHERE value IS NOT NULL),
             |u AS (SELECT DISTINCT user_id AS k FROM e),
             |${xxh64Stages("ka", "u", Seq("k"), "CAST(k AS HUGEINT)", "42")},
             |am AS (SELECT k AS user_id, ((xx64 % 2) + 2) % 2 = 0 AS a FROM ka),
             |ed AS (SELECT e.day, am.a, e.xq FROM e JOIN am USING (user_id)),
             |d AS (SELECT day,
             |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS dna,
             |    CAST(sum(CASE WHEN a THEN xq ELSE 0 END) AS BIGINT) AS dsa,
             |    CAST(sum(CASE WHEN a THEN CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT) ELSE 0 END) AS HUGEINT) AS dssa,
             |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS dnb,
             |    CAST(sum(CASE WHEN NOT a THEN xq ELSE 0 END) AS BIGINT) AS dsb,
             |    CAST(sum(CASE WHEN NOT a THEN CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT) ELSE 0 END) AS HUGEINT) AS dssb
             |  FROM ed GROUP BY day),
             |c AS (SELECT day,
             |    CAST(sum(dna) OVER w AS BIGINT) AS n_a, CAST(sum(dsa) OVER w AS BIGINT) AS sa_i,
             |    CAST(sum(dssa) OVER w AS HUGEINT) AS ssa_i,
             |    CAST(sum(dnb) OVER w AS BIGINT) AS n_b, CAST(sum(dsb) OVER w AS BIGINT) AS sb_i,
             |    CAST(sum(dssb) OVER w AS HUGEINT) AS ssb_i
             |  FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |f AS (SELECT day, n_a, n_b,
             |    CAST(NULLIF(n_a, 0) AS DOUBLE) AS na, CAST(NULLIF(n_b, 0) AS DOUBLE) AS nb,
             |    CAST(sa_i AS DOUBLE) / 1000000 AS sa, CAST(sb_i AS DOUBLE) / 1000000 AS sb,
             |    CAST(ssa_i AS DOUBLE) / 1000000000000 AS ssa,
             |    CAST(ssb_i AS DOUBLE) / 1000000000000 AS ssb,
             |    sa / na - sb / nb AS theta,
             |    ((ssa - sa * sa / na) + (ssb - sb * sb / nb))
             |      / (CAST(CASE WHEN n_a + n_b > 2 THEN n_a + n_b END AS DOUBLE) - 2.0) AS sig2,
             |    (((ssa - sa * sa / na) + (ssb - sb * sb / nb))
             |      / (CAST(CASE WHEN n_a + n_b > 2 THEN n_a + n_b END AS DOUBLE) - 2.0))
             |      * (1.0 / na + 1.0 / nb) AS v
             |  FROM c),
             |g AS (SELECT day, n_a, n_b, theta, sig2,
             |    ln(v / (v + 1.0)) / 2.0 + (theta * theta * 1.0) / (2.0 * v * (v + 1.0)) AS llr
             |  FROM f)
             |SELECT day, n_a, n_b,
             |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(theta, 6) END AS theta,
             |  CASE WHEN n_a + n_b > 2 AND sig2 > 0 THEN round(sig2, 6) END AS sigma2,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 2 AND sig2 > 0
             |    THEN round(llr, 6) END AS log_lr,
             |  max(CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 2 AND sig2 > 0
             |    THEN llr END) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    > 2.995732273553991 AS significant
             |FROM g ORDER BY day""".stripMargin)),

    // ---- STATS: Poisson bootstrap RATIO CI, production-hash twin —
    // same per-user purchases/clicks estimand as q_bootstrap_ratio,
    // replicate weights from xxhash64(user_id, rep) (pairHash) instead
    // of md5 strings; oracle-exact via the chained XXH64 replica. ----
    ("q_bootstrap_ratio_prod",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("num"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("den"))
        AuditOps.poissonBootstrapRatio(perUser, col("user_id"),
          col("num"), col("den"), reps = 200,
          pairHash = Some((k, r) => xxhash64(k.cast("long"), r)))
      },
      Some(s"""WITH b AS (SELECT user_id AS k,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1000000 AS BIGINT) AS xq,
             |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1000000 AS BIGINT) AS yq
             |  FROM events GROUP BY 1),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS sx,
             |    CAST(sum(yq) AS BIGINT) AS sy FROM b),
             |${xxh64Stages("ka", "b", Seq("k"), "CAST(k AS HUGEINT)", "42")},
             |r AS (SELECT ka.k, ka.xx64u AS sd, g.rep
             |  FROM ka CROSS JOIN (SELECT unnest(range(200)) AS rep) g),
             |${xxh64Stages("kb", "r", Seq("k", "rep"), "CAST(rep AS HUGEINT)", "sd")},
             |w AS (SELECT kb.rep, b.xq, b.yq, ((kb.xx64 % 1000000) + 1000000) % 1000000 AS u
             |  FROM kb JOIN b USING (k)),
             |pw AS (SELECT rep, xq, yq,
             |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 WHEN u < 919699 THEN 2
             |         WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
             |         WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7 ELSE 8 END AS wt
             |  FROM w),
             |rm AS (SELECT rep, CAST(sum(wt * xq) AS BIGINT) AS swx, CAST(sum(wt * yq) AS BIGINT) AS swy
             |  FROM pw GROUP BY rep HAVING sum(wt * yq) > 0),
             |mq AS (SELECT rep,
             |    CAST(round(CAST(swx AS DOUBLE) / CAST(swy AS DOUBLE) * 1000000) AS BIGINT) AS m FROM rm),
             |rk AS (SELECT m, row_number() OVER (ORDER BY m, rep) AS rr FROM mq),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS ru, CAST(sum(m) AS HUGEINT) AS s1,
             |    CAST(sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS HUGEINT) AS s2 FROM mq),
             |bd AS (SELECT ru, s1, s2, CAST(ceil(ru * 0.025) AS BIGINT) AS rlo,
             |    CAST(ceil(ru * 0.975) AS BIGINT) AS rhi FROM st),
             |ci AS (SELECT bd.ru, bd.s1, bd.s2,
             |    min(CASE WHEN rk.rr = bd.rlo THEN rk.m END) AS lo,
             |    min(CASE WHEN rk.rr = bd.rhi THEN rk.m END) AS hi
             |  FROM rk, bd GROUP BY 1, 2, 3)
             |SELECT t.n, ci.ru AS reps_used,
             |  CASE WHEN t.sy > 0 THEN round(CAST(t.sx AS DOUBLE) / CAST(t.sy AS DOUBLE), 6) END AS ratio,
             |  CASE WHEN ci.ru > 1 THEN round(sqrt(CAST(ci.s2 * ci.ru - ci.s1 * ci.s1 AS DOUBLE)
             |    / (CAST(ci.ru AS DOUBLE) * (CAST(ci.ru AS DOUBLE) - 1.0))) / 1000000, 6) END AS se_boot,
             |  round(CAST(ci.lo AS DOUBLE) / 1000000, 6) AS ci_lo,
             |  round(CAST(ci.hi AS DOUBLE) / 1000000, 6) AS ci_hi
             |FROM ci, t""".stripMargin)),

    // ---- STATS: Poisson bootstrap CI for the DIFFERENCE of arm means
    // — the statistic an experiment platform actually ships (per-arm
    // CIs don't subtract; the arms share the resample). Fully
    // production-hashed: ONE xxhash64(user_id) both assigns the arm
    // (mod 2) and seeds the per-replicate weight hash
    // xxhash64(user_id, rep) — the oracle runs the XXH64 replica once
    // for the key, reuses its unsigned result as the chain seed, and
    // replays arm split, weights, replicate diffs and the nearest-rank
    // CI bit-exactly (dfw/AuditOps.poissonBootstrapDiff). ----
    ("q_bootstrap_diff",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg((sum(round(col("value") * 1e6).cast("long"))
            .cast("double") / 1e6).as("x"))
        AuditOps.poissonBootstrapDiff(perUser, col("user_id"),
          pmod(xxhash64(col("user_id").cast("long")), lit(2)) === 0, col("x"),
          reps = 200, pairHash = Some((k, r) => xxhash64(k.cast("long"), r)))
      },
      Some(s"""WITH b AS (SELECT user_id AS k,
             |    CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS xq
             |  FROM events GROUP BY 1 HAVING sum(CAST(round(value * 1000000) AS BIGINT)) IS NOT NULL),
             |${xxh64Stages("ka", "b", Seq("k"), "CAST(k AS HUGEINT)", "42")},
             |am AS (SELECT k, ((xx64 % 2) + 2) % 2 = 0 AS a, xx64u AS sd FROM ka),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN am.a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(sum(CASE WHEN am.a THEN b.xq ELSE 0 END) AS BIGINT) AS sxa,
             |    CAST(sum(CASE WHEN NOT am.a THEN b.xq ELSE 0 END) AS BIGINT) AS sxb
             |  FROM b JOIN am USING (k)),
             |r AS (SELECT am.k, am.a, am.sd, g.rep
             |  FROM am CROSS JOIN (SELECT unnest(range(200)) AS rep) g),
             |${xxh64Stages("kb", "r", Seq("k", "a", "rep"), "CAST(rep AS HUGEINT)", "sd")},
             |w AS (SELECT kb.rep, kb.a, b.xq, ((kb.xx64 % 1000000) + 1000000) % 1000000 AS u
             |  FROM kb JOIN b USING (k)),
             |pw AS (SELECT rep, a, xq,
             |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 WHEN u < 919699 THEN 2
             |         WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
             |         WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7 ELSE 8 END AS wt
             |  FROM w),
             |rm AS (SELECT rep,
             |    CAST(sum(CASE WHEN a THEN wt * xq ELSE 0 END) AS BIGINT) AS swxa,
             |    CAST(sum(CASE WHEN a THEN wt ELSE 0 END) AS BIGINT) AS swa,
             |    CAST(sum(CASE WHEN NOT a THEN wt * xq ELSE 0 END) AS BIGINT) AS swxb,
             |    CAST(sum(CASE WHEN NOT a THEN wt ELSE 0 END) AS BIGINT) AS swb
             |  FROM pw GROUP BY rep
             |  HAVING sum(CASE WHEN a THEN wt ELSE 0 END) > 0
             |     AND sum(CASE WHEN NOT a THEN wt ELSE 0 END) > 0),
             |mq AS (SELECT rep,
             |    CAST(round(CAST(swxa AS DOUBLE) / CAST(swa AS DOUBLE)) AS BIGINT)
             |      - CAST(round(CAST(swxb AS DOUBLE) / CAST(swb AS DOUBLE)) AS BIGINT) AS m
             |  FROM rm),
             |rk AS (SELECT m, row_number() OVER (ORDER BY m, rep) AS rr FROM mq),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS ru, CAST(sum(m) AS HUGEINT) AS s1,
             |    CAST(sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS HUGEINT) AS s2 FROM mq),
             |bd AS (SELECT ru, s1, s2, CAST(ceil(ru * 0.025) AS BIGINT) AS rlo,
             |    CAST(ceil(ru * 0.975) AS BIGINT) AS rhi FROM st),
             |ci AS (SELECT bd.ru, bd.s1, bd.s2,
             |    min(CASE WHEN rk.rr = bd.rlo THEN rk.m END) AS lo,
             |    min(CASE WHEN rk.rr = bd.rhi THEN rk.m END) AS hi
             |  FROM rk, bd GROUP BY 1, 2, 3)
             |SELECT t.n, t.n_a, t.n - t.n_a AS n_b, ci.ru AS reps_used,
             |  CASE WHEN t.n_a > 0
             |    THEN round(CAST(t.sxa AS DOUBLE) / 1000000 / CAST(t.n_a AS DOUBLE), 6) END AS mean_a,
             |  CASE WHEN t.n - t.n_a > 0
             |    THEN round(CAST(t.sxb AS DOUBLE) / 1000000 / CAST(t.n - t.n_a AS DOUBLE), 6) END AS mean_b,
             |  CASE WHEN t.n_a > 0 AND t.n - t.n_a > 0
             |    THEN round(CAST(t.sxa AS DOUBLE) / 1000000 / CAST(t.n_a AS DOUBLE)
             |      - CAST(t.sxb AS DOUBLE) / 1000000 / CAST(t.n - t.n_a AS DOUBLE), 6) END AS diff,
             |  CASE WHEN ci.ru > 1 THEN round(sqrt(CAST(ci.s2 * ci.ru - ci.s1 * ci.s1 AS DOUBLE)
             |    / (CAST(ci.ru AS DOUBLE) * (CAST(ci.ru AS DOUBLE) - 1.0))) / 1000000, 6) END AS se_boot,
             |  round(CAST(ci.lo AS DOUBLE) / 1000000, 6) AS ci_lo,
             |  round(CAST(ci.hi AS DOUBLE) / 1000000, 6) AS ci_hi
             |FROM ci, t""".stripMargin)),

    // ---- STATS: Poisson bootstrap CI for a RATIO metric — per-user
    // purchases / clicks, the estimand whose per-impression variance
    // is simply wrong (users are the resampling grain); each
    // replicate is a pair of weighted sums, never materialized data
    // (dfw/AuditOps.poissonBootstrapRatio). ----
    ("q_bootstrap_ratio",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("num"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("den"))
        AuditOps.poissonBootstrapRatio(perUser, col("user_id"),
          col("num"), col("den"), reps = 200)
      },
      Some("""WITH b AS (SELECT CAST(user_id AS VARCHAR) AS k,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1000000 AS BIGINT) AS xq,
             |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1000000 AS BIGINT) AS yq
             |  FROM events GROUP BY 1),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS sx,
             |    CAST(sum(yq) AS BIGINT) AS sy FROM b),
             |r AS (SELECT b.k, b.xq, b.yq, g.rep FROM b CROSS JOIN (SELECT unnest(range(200)) AS rep) g),
             |w AS (SELECT rep, xq, yq,
             |    CAST(('0x' || substr(md5(k || ':' || CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS u
             |  FROM r),
             |pw AS (SELECT rep, xq, yq,
             |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 WHEN u < 919699 THEN 2
             |         WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
             |         WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7 ELSE 8 END AS wt
             |  FROM w),
             |rm AS (SELECT rep, CAST(sum(wt * xq) AS BIGINT) AS swx, CAST(sum(wt * yq) AS BIGINT) AS swy
             |  FROM pw GROUP BY rep HAVING sum(wt * yq) > 0),
             |mq AS (SELECT rep, CAST(round(CAST(swx AS DOUBLE) / CAST(swy AS DOUBLE) * 1000000) AS BIGINT) AS m FROM rm),
             |rk AS (SELECT m, row_number() OVER (ORDER BY m, rep) AS rr FROM mq),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS ru, CAST(sum(m) AS HUGEINT) AS s1,
             |    CAST(sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS HUGEINT) AS s2 FROM mq),
             |bd AS (SELECT ru, s1, s2, CAST(ceil(ru * 0.025) AS BIGINT) AS rlo,
             |    CAST(ceil(ru * 0.975) AS BIGINT) AS rhi FROM st),
             |ci AS (SELECT bd.ru, bd.s1, bd.s2,
             |    min(CASE WHEN rk.rr = bd.rlo THEN rk.m END) AS lo,
             |    min(CASE WHEN rk.rr = bd.rhi THEN rk.m END) AS hi
             |  FROM rk, bd GROUP BY 1, 2, 3)
             |SELECT t.n, ci.ru AS reps_used,
             |  CASE WHEN t.sy > 0 THEN round(CAST(t.sx AS DOUBLE) / CAST(t.sy AS DOUBLE), 6) END AS ratio,
             |  CASE WHEN ci.ru > 1 THEN round(sqrt(CAST(ci.s2 * ci.ru - ci.s1 * ci.s1 AS DOUBLE)
             |    / (CAST(ci.ru AS DOUBLE) * (CAST(ci.ru AS DOUBLE) - 1.0))) / 1000000, 6) END AS se_boot,
             |  round(CAST(ci.lo AS DOUBLE) / 1000000, 6) AS ci_lo,
             |  round(CAST(ci.hi AS DOUBLE) / 1000000, 6) AS ci_hi
             |FROM ci, t""".stripMargin)),

    // ---- STATS: FDR-controlled drift sweep — per-event-type KS test
    // (early vs late fortnight) then Benjamini–Hochberg step-up over
    // the 5 hypotheses; the multiple-comparison discipline every
    // k-way drift dashboard needs (dfw/QuantileOps.ksTestByGroup +
    // dfw/AuditOps.bhAdjust). ----
    ("q_bh_fdr",
      (s: SparkSession, dir: String) => {
        val ks = graft.dfw.QuantileOps.ksTestByGroup(
          Tables.load(s, dir, "events"), col("event_type"), "value",
          to_date(col("ts")) < lit("2024-01-15"))
        AuditOps.bhAdjust(ks, col("p_value"), Seq(col("grp")), alpha = 0.1)
      },
      Some("""WITH s AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v,
             |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15' THEN 1 ELSE 0 END AS r
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT grp, v, CAST(sum(r) AS BIGINT) AS rn,
             |    CAST(count(*) - sum(r) AS BIGINT) AS cn FROM s GROUP BY 1, 2),
             |w AS (SELECT grp, v,
             |    CAST(sum(rn) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS crn,
             |    CAST(sum(cn) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS ccn,
             |    CAST(sum(rn) OVER (PARTITION BY grp) AS BIGINT) AS n_ref,
             |    CAST(sum(cn) OVER (PARTITION BY grp) AS BIGINT) AS n_cur
             |  FROM c),
             |g AS (SELECT grp, v, n_ref, n_cur,
             |    abs(CAST(crn AS DOUBLE) / CAST(n_ref AS DOUBLE)
             |      - CAST(ccn AS DOUBLE) / CAST(n_cur AS DOUBLE)) AS gap FROM w),
             |d AS (SELECT grp, max(gap) AS dm FROM g GROUP BY 1),
             |a AS (SELECT g.grp, g.n_ref, g.n_cur, d.dm, min(g.v) AS ks_at
             |  FROM g JOIN d ON g.grp = d.grp AND g.gap = d.dm GROUP BY 1, 2, 3, 4),
             |k AS (SELECT grp, n_ref, n_cur, CAST(round(dm * 1000000) AS BIGINT) AS d_ppm, ks_at,
             |    round(2 * exp(-2 * dm * dm * CAST(n_ref * n_cur AS DOUBLE)
             |      / CAST(n_ref + n_cur AS DOUBLE)), 6) AS p_value FROM a),
             |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p_value, grp) AS BIGINT) AS p_rank,
             |    CAST(count(*) OVER () AS BIGINT) AS m_tests FROM k),
             |adj AS (SELECT *, least(1.0, min(p_value * CAST(m_tests AS DOUBLE)
             |      / CAST(p_rank AS DOUBLE))
             |    OVER (ORDER BY p_rank ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS padj
             |  FROM rk)
             |SELECT grp, n_ref, n_cur, d_ppm, ks_at, p_value, p_rank, m_tests,
             |  round(padj, 6) AS p_adj, padj <= 0.1 AS reject
             |FROM adj ORDER BY p_rank""".stripMargin)),

    // ---- PATHS: top-20 3-step journey sequences by (user, day) —
    // lead over per-journey windows, global top-k as
    // TakeOrderedAndProject (dfw/PathOps.topPaths). ----
    ("q_event_paths",
      (s: SparkSession, dir: String) => {
        graft.dfw.PathOps.topPaths(Tables.load(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"),
          Seq(col("ts"), col("event_id")), n = 3, k = 20)
      },
      Some("""WITH p AS (SELECT event_type AS c0,
             |    lead(event_type, 1) OVER w AS c1, lead(event_type, 2) OVER w AS c2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id))
             |SELECT c0 || '>' || c1 || '>' || c2 AS path, CAST(count(*) AS BIGINT) AS cnt
             |FROM p WHERE c2 IS NOT NULL
             |GROUP BY 1 ORDER BY cnt DESC, path LIMIT 20""".stripMargin)),

    // ---- PATHS: first-order Markov removal-effect attribution over
    // journey-day touch sequences (truncated at first purchase) —
    // 40 exact integer-ppm Jacobi sweeps per chain, one chain per
    // knocked-out channel; the oracle unrolls the same sweeps as
    // generated CTEs (dfw/PathOps.markovAttribution; Anderl et al.
    // 2014 semantics). ----
    ("q_markov_attribution",
      (s: SparkSession, dir: String) => {
        graft.dfw.PathOps.markovAttribution(Tables.load(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), "purchase",
          Seq(col("ts"), col("event_id")), iters = 40)
      },
      Some(markovOracleSql(40))),

    // ---- MAINTENANCE: incremental aggregate (materialized-view)
    // refresh — stored per-(event_type, day) partials folded with a
    // delta's partials, then rolled up; the oracle recomputes from
    // raw rows, proving merge-equals-recompute (dfw/MergeOps
    // .aggPartials/mergePartials). Day 365 costs the same as day 2.
    // ----
    ("m5_incremental_agg",
      (s: SparkSession, dir: String) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"),
            round(col("value") * 1e6).cast("long").as("vq"))
        val cutoff = to_date(lit("2024-01-25"))
        val state = MergeOps.aggPartials(ev.where(col("day") < cutoff),
          Seq("event_type", "day"), Seq("sum_vq" -> col("vq")))
        val delta = MergeOps.aggPartials(ev.where(col("day") >= cutoff),
          Seq("event_type", "day"), Seq("sum_vq" -> col("vq")))
        MergeOps.mergePartials(state, delta, Seq("event_type", "day"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("cnt"),
            sum(col("sum_vq")).as("sum_vq"))
          .select(col("event_type"), col("n_days"), col("cnt"), col("sum_vq"),
            round(col("sum_vq").cast("double") / 1e6 / col("cnt").cast("double"), 6)
              .as("mean_value"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
             |p AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(vq) AS BIGINT) AS sum_vq FROM e GROUP BY 1, 2)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             |  CAST(sum(cnt) AS BIGINT) AS cnt, CAST(sum(sum_vq) AS BIGINT) AS sum_vq,
             |  round(CAST(sum(sum_vq) AS DOUBLE) / 1000000 / CAST(sum(cnt) AS DOUBLE), 6) AS mean_value
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- GRAPH: Adamic–Adar link prediction on the part
    // co-occurrence graph (same edge set as g3_triangles) — wedge
    // pairing per common neighbor under the degree-64 hub cut,
    // per-wedge 1/ln(deg) micro-quantized before the order-free sum
    // (llm/GraphOps.adamicAdar). ----
    ("g6_adamic_adar",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem")
          .filter(col("l_quantity") > 25)
          .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
          .distinct()
        val e = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        GraphOps.adamicAdar(e, "src", "dst", maxDeg = 64, topK = 50)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
             |            FROM lineitem WHERE l_quantity > 25),
             |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
             |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
             |adj AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
             |pa AS (SELECT a.node, a.nbr,
             |    CAST(round(1000000.0 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT) AS aa_q
             |  FROM adj a JOIN deg d ON a.node = d.node WHERE d.deg BETWEEN 2 AND 64),
             |sc AS (SELECT p1.nbr AS x, p2.nbr AS y, CAST(count(*) AS BIGINT) AS common_cnt,
             |    CAST(sum(p1.aa_q) AS BIGINT) AS score_q
             |  FROM pa p1 JOIN pa p2 ON p1.node = p2.node AND p1.nbr < p2.nbr GROUP BY 1, 2),
             |ne AS (SELECT sc.* FROM sc LEFT JOIN e ON sc.x = e.u AND sc.y = e.v WHERE e.u IS NULL)
             |SELECT x, y, common_cnt, score_q FROM ne
             |ORDER BY score_q DESC, x, y LIMIT 50""".stripMargin)),

    // ---- GRAPH: integer HITS hubs/authorities on the bipartite
    // customer→supplier purchase graph — 3 exact max-normalized
    // rounds, every score on the ppm grid; the oracle unrolls the
    // same half-steps as materialized CTEs (llm/GraphOps.hitsInt;
    // Kleinberg 1999). Node ids disambiguate the two sides (cust·2,
    // supp·2+1). ----
    ("g7_hits",
      (s: SparkSession, dir: String) => {
        val e = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.load(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).cast("long").as("src"),
            (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        GraphOps.hitsInt(e, "src", "dst", rounds = 3)
      },
      Some(hitsOracleSql(3))),

    // ---- G: multi-source BFS hop distance over the co-purchase
    // graph — crawl-frontier / seed-expansion distance (how many
    // co-purchase hops from the promoted customer set). Frontier-
    // propagating: each round joins the edge list against ONLY the
    // newly-reached nodes, anti-joins the seen set (first-reached IS
    // the BFS distance), integer rounds → bit-replayable
    // (llm/GraphOps.bfsHops). The oracle unrolls the same 3 rounds. ----
    ("g8_bfs",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey").cast("long") * 2).as("src"),
            (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        val edges = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = Tables.load(s, dir, "customer")
          .filter(col("c_custkey") % 100 === 1)
          .select((col("c_custkey") * 2).cast("long").as("seed"))
        GraphOps.bfsHops(edges, "src", "dst", seeds, "seed", maxHops = 3)
          .orderBy(col("node"))
      },
      Some {
        val base =
          """WITH b AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
            |             CAST(l_suppkey * 2 + 1 AS BIGINT) AS s
            |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            |e AS (SELECT c AS src, s AS dst FROM b UNION SELECT s, c FROM b),
            |d0 AS (SELECT DISTINCT CAST(c_custkey * 2 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
            |       FROM customer WHERE c_custkey % 100 = 1)""".stripMargin
        // d_{k-1} is consumed three times per round (frontier, NOT IN,
        // carry-forward) — MATERIALIZED stops DuckDB re-inlining each
        // round into every consumer (the g5_kcore sf1 lesson)
        val rounds = (1 to 3).map { k =>
          s"""f$k AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
             |        JOIN (SELECT node FROM d${k - 1} WHERE dist = ${k - 1}) fr ON e.src = fr.node
             |        WHERE e.dst NOT IN (SELECT node FROM d${k - 1})),
             |d$k AS MATERIALIZED (SELECT node, dist FROM d${k - 1}
             |        UNION ALL SELECT node, CAST($k AS BIGINT) AS dist FROM f$k)""".stripMargin
        }.mkString(",\n")
        s"$base,\n$rounds\nSELECT node, dist FROM d3 ORDER BY node"
      }),

    // ---- G: bounded-round integer shortest path (Bellman-Ford
    // min-plus) over the WEIGHTED co-purchase graph — after k rounds,
    // dist(v) is the exact cheapest cost among ≤k-edge paths from the
    // seed set (the bounded-horizon cost a crawl scheduler budgets).
    // Unlike BFS a settled node can still improve, so every round
    // joins the full distance table; min over integer sums is
    // order-independent ⇒ bit-replayable (llm/GraphOps.ssspInt). ----
    ("g9_sssp",
      (s: SparkSession, dir: String) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
        val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey").cast("long") * 2).as("src"),
            (col("l_suppkey").cast("long") * 2 + 1).as("dst"),
            col("l_quantity").cast("long").as("w"))
        val edges = cs.union(cs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        val seeds = Tables.load(s, dir, "customer")
          .filter(col("c_custkey") % 100 === 1)
          .select((col("c_custkey") * 2).cast("long").as("seed"))
        GraphOps.ssspInt(edges, "src", "dst", "w", seeds, "seed", rounds = 3)
          .orderBy(col("node"))
      },
      Some {
        val base =
          """WITH b AS (SELECT CAST(o_custkey * 2 AS BIGINT) AS c,
            |             CAST(l_suppkey * 2 + 1 AS BIGINT) AS s,
            |             CAST(l_quantity AS BIGINT) AS w
            |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            |e0 AS (SELECT c AS src, s AS dst, w FROM b
            |       UNION ALL SELECT s, c, w FROM b),
            |e AS MATERIALIZED (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
            |     FROM e0 GROUP BY src, dst),
            |d0 AS (SELECT DISTINCT CAST(c_custkey * 2 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
            |       FROM customer WHERE c_custkey % 100 = 1)""".stripMargin
        val rounds = (1 to 3).map { k =>
          s"""d$k AS MATERIALIZED (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             |        SELECT node, dist FROM d${k - 1}
             |        UNION ALL SELECT e.dst AS node, d${k - 1}.dist + e.w AS dist
             |        FROM e JOIN d${k - 1} ON e.src = d${k - 1}.node)
             |      GROUP BY node)""".stripMargin
        }.mkString(",\n")
        s"$base,\n$rounds\nSELECT node, dist FROM d3 ORDER BY node"
      }),

    // ---- T: per-group probe fits — one independent closed-form ridge
    // per source from the SAME single moment pass (the groupBy
    // replaces the global aggregate; k groups = one shuffle of k×10
    // cells, not k passes) — the per-domain/per-language fit matrix a
    // curation pipeline reviews before trusting one global probe
    // (dfw/FitOps.ridgeFit2By). ----
    ("t_ridge_probe_by_source",
      (s: SparkSession, dir: String) => {
        val d = Tables.load(s, dir, "documents").select(
          col("source"),
          length(col("text")).cast("long").as("x1"),
          (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))))
            .cast("long").as("x2"),
          size(filter(split(col("text"), " ", -1),
            t => t === "the" || t === "a")).cast("long").as("y"))
        graft.dfw.FitOps.ridgeFit2By(d, Seq("source"), "x1", "x2", "y",
            lambda = 1e6, roundTo = 6)
          .orderBy(col("source"))
      },
      Some(ridgeProbeOracleBy("source",
        "SELECT source, n, round(b0, 6) AS beta0, round(b1, 6) AS beta1, " +
          "round(b2, 6) AS beta2, round(r2, 6) AS r2 FROM fit ORDER BY source"))),

    // ---- T: quality-probe distillation — closed-form ridge fit of an
    // expensive tokenizer-derived teacher (stopword count) onto two
    // cheap byte-level features (chars, spaces): ONE exact-decimal
    // moment-sum pass + Cramer's rule on the one-row aggregate
    // (dfw/FitOps.ridgeFit2). Integer features make the sums
    // order-independent, so the IEEE solve is bit-identical and the
    // oracle replays it term for term. ----
    ("t_ridge_probe",
      (s: SparkSession, dir: String) => {
        val d = Tables.load(s, dir, "documents").select(
          length(col("text")).cast("long").as("x1"),
          (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))))
            .cast("long").as("x2"),
          size(filter(split(col("text"), " ", -1),
            t => t === "the" || t === "a")).cast("long").as("y"))
        graft.dfw.FitOps.ridgeFit2(d, "x1", "x2", "y", lambda = 1e6, roundTo = 6)
      },
      Some(ridgeProbeOracle(
        "SELECT n, round(b0, 6) AS beta0, round(b1, 6) AS beta1, " +
          "round(b2, 6) AS beta2, round(r2, 6) AS r2 FROM fit"))),

    // ---- X4: teacher/probe disagreement audit — score every doc with
    // the probe fitted in the same plan (one-row β broadcast; the
    // corpus side never shuffles) and surface the 20 docs whose cheap
    // features most misstate their teacher signal — the human-review
    // queue of classifier distillation (dfw/FitOps.ridgeResiduals2).
    // UNROUNDED β feed the predictions on both sides. ----
    ("x4_probe_disagree",
      (s: SparkSession, dir: String) => {
        val d = Tables.load(s, dir, "documents").select(
          col("doc_id"),
          length(col("text")).cast("long").as("x1"),
          (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))))
            .cast("long").as("x2"),
          size(filter(split(col("text"), " ", -1),
            t => t === "the" || t === "a")).cast("long").as("y"))
        graft.dfw.FitOps.ridgeResiduals2(d, Seq("doc_id"), "x1", "x2", "y",
            lambda = 1e6, roundTo = 6)
          .orderBy(abs(col("resid")).desc, col("doc_id"))
          .limit(20)
      },
      Some(ridgeProbeOracle(
        """SELECT f.doc_id, f.x1, f.x2, f.y,
          |  round(fit.b0 + fit.b1 * CAST(f.x1 AS DOUBLE) + fit.b2 * CAST(f.x2 AS DOUBLE), 6) AS pred,
          |  round(CAST(f.y AS DOUBLE) - (fit.b0 + fit.b1 * CAST(f.x1 AS DOUBLE) + fit.b2 * CAST(f.x2 AS DOUBLE)), 6) AS resid
          |FROM f, fit
          |ORDER BY abs(round(CAST(f.y AS DOUBLE) - (fit.b0 + fit.b1 * CAST(f.x1 AS DOUBLE) + fit.b2 * CAST(f.x2 AS DOUBLE)), 6)) DESC, f.doc_id
          |LIMIT 20""".stripMargin))),

    // ---- X4: RAKE keyword extraction — stopword-delimited candidate
    // phrases, word deg/freq scores in integer ppm, corpus top-25
    // (llm/TextOps.rakeKeywords; Rose et al. 2010). ----
    ("x4_rake",
      (s: SparkSession, dir: String) => {
        TextOps.rakeKeywords(Tables.load(s, dir, "documents"),
          "doc_id", "text", topK = 25)
      },
      Some(s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tok0 AS (SELECT doc_id, i AS pos,
             |    regexp_replace(lower(toks[i]), '[^a-z0-9]', '', 'g') AS tok
             |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t0)),
             |tok1 AS (SELECT doc_id, pos, tok,
             |    (tok IN (${TextOps.RakeStopwords.map(w => s"'$w'").mkString(", ")})
             |      OR tok = '') AS stop FROM tok0),
             |tok2 AS (SELECT doc_id, pos, tok, stop,
             |    sum(CASE WHEN stop THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos) AS pid FROM tok1),
             |ph AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen,
             |    string_agg(tok, ' ' ORDER BY pos) AS phrase
             |  FROM tok2 WHERE NOT stop GROUP BY 1, 2 HAVING count(*) <= 4),
             |pw AS (SELECT doc_id, pid, phrase, plen,
             |    unnest(string_split(phrase, ' ')) AS tok FROM ph),
             |ws AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
             |    CAST(sum(plen) AS BIGINT) AS deg FROM pw GROUP BY 1),
             |ws2 AS (SELECT tok, (deg * 1000000) // freq AS wscore FROM ws),
             |inst AS (SELECT pw.doc_id, pw.pid, pw.phrase, pw.plen,
             |    CAST(sum(w.wscore) AS BIGINT) AS score_q
             |  FROM pw JOIN ws2 w ON w.tok = pw.tok GROUP BY 1, 2, 3, 4)
             |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
             |  CAST(plen AS BIGINT) AS n_words, CAST(min(score_q) AS BIGINT) AS score_q
             |FROM inst GROUP BY phrase, plen
             |ORDER BY score_q DESC, phrase LIMIT 25""".stripMargin)),

    // ---- X4: n-gram novelty vs a reference slice — the memorization/
    // freshness audit: per source, the share of distinct 5-gram mass
    // the reference corpus does not contain; exact anti-join anchor,
    // Bloom gate is the 100 TB twin (llm/TextOps.ngramNoveltyBySource
    // on DedupOps.wordShingles). ----
    ("x4_ngram_novelty",
      (s: SparkSession, dir: String) => {
        TextOps.ngramNoveltyBySource(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", col("doc_id") % 10 === 0, w = 5)
      },
      Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
             |refg AS (SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS sh
             |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |        FROM t WHERE doc_id % 10 = 0 AND len(toks) >= 5)),
             |candd AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
             |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
             |        FROM t WHERE doc_id % 10 <> 0 AND len(toks) >= 5)),
             |per AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS grams,
             |    CAST(sum(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS novel
             |  FROM candd c LEFT JOIN refg r ON c.sh = r.sh GROUP BY 1)
             |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(p.grams) AS BIGINT) AS n_grams,
             |  CAST(sum(p.novel) AS BIGINT) AS n_novel,
             |  (CAST(sum(p.novel) AS BIGINT) * 1000000) // CAST(sum(p.grams) AS BIGINT) AS novel_ppm
             |FROM per p JOIN t d ON d.doc_id = p.doc_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- W: Neyman-allocation stratified sample — a 1000-row budget
    // split across o_orderpriority strata ∝ N_h·S_h (the
    // variance-optimal eval-set allocation); exact integer moments,
    // ppm-quantized weights, md5 hash-rank row selection
    // (dfw/SplitOps.neymanAllocationSample; Neyman 1934). ----
    ("w_neyman_sample",
      (s: SparkSession, dir: String) => {
        SplitOps.neymanAllocationSample(Tables.load(s, dir, "orders"),
          col("o_orderpriority"), round(col("o_totalprice") * 100),
          col("o_orderkey"), totalN = 1000L)
      },
      Some("""WITH b AS (SELECT o_orderpriority AS stratum,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS xq, o_orderkey AS k FROM orders),
             |st AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_pop,
             |    CAST(sum(xq) AS HUGEINT) AS sx,
             |    CAST(sum(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS HUGEINT) AS sxx
             |  FROM b GROUP BY 1),
             |sd AS (SELECT stratum, n_pop,
             |    CASE WHEN n_pop > 1 THEN sqrt(CAST(sxx * n_pop - sx * sx AS DOUBLE)
             |      / (CAST(n_pop AS DOUBLE) * CAST(n_pop - 1 AS DOUBLE))) ELSE 0.0 END AS sdv
             |  FROM st),
             |wq AS (SELECT stratum, n_pop, sdv,
             |    CAST(round(CAST(n_pop AS DOUBLE) * sdv) AS BIGINT) AS w FROM sd),
             |tw AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM wq),
             |al AS (SELECT stratum, n_pop, sdv,
             |    LEAST(n_pop, CASE WHEN tw.t > 0 THEN (w * 1000) // tw.t
             |                      ELSE CAST(0 AS BIGINT) END) AS alloc_n
             |  FROM wq, tw),
             |rk AS (SELECT b.stratum, b.k, row_number()
             |    OVER (PARTITION BY b.stratum
             |          ORDER BY md5('ns:' || CAST(b.k AS VARCHAR)), b.k) AS rn FROM b),
             |sm AS (SELECT rk.stratum, CAST(count(*) AS BIGINT) AS sampled_n,
             |    CAST(sum(rk.k) AS BIGINT) AS key_checksum
             |  FROM rk JOIN al ON al.stratum = rk.stratum
             |  WHERE rk.rn <= al.alloc_n GROUP BY 1)
             |SELECT al.stratum, al.n_pop, round(al.sdv, 4) AS sd_q,
             |  CAST(al.alloc_n AS BIGINT) AS alloc_n,
             |  COALESCE(sm.sampled_n, CAST(0 AS BIGINT)) AS sampled_n,
             |  COALESCE(sm.key_checksum, CAST(0 AS BIGINT)) AS key_checksum
             |FROM al LEFT JOIN sm ON sm.stratum = al.stratum
             |ORDER BY al.stratum""".stripMargin)),

    // ---- X3: contrastive hard-negative mining — per anchor, top-5
    // candidates with cosine in the hard band [0.30, 0.85): the
    // SimCSE/DPR training-pair builder, seventh operator off the one
    // shared persisted IVF index; same probed-bucket scan as
    // x3_ann_ivf_indexed (llm/SimilarityOps.hardNegativesIndexed). ----
    ("x3_hard_negatives",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.hardNegativesIndexed(queries, embLists(s, dir, 16),
            "vec_id", "embedding", k = 5,
            centroids = embCentroids(s, dir, 16), nProbe = 4,
            loCos = 0.30, hiCos = 0.85)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings WHERE vec_id % 10 = 0),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C16__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |qa AS (SELECT vec_id AS query_id, q AS qv, n2 AS na, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |       WHERE rn <= 4),
             |ca AS (SELECT centroid_id, vec_id AS neighbor_id, "__qv" AS qb, "__n2" AS nb
             |       FROM read_parquet('__GRAFT_IVF_B16__/*.parquet')),
             |p AS (SELECT qa.query_id, ca.neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(qa.qv, ca.qb), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        qa.na, ca.nb
             |      FROM qa JOIN ca USING (centroid_id) WHERE qa.query_id <> ca.neighbor_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CASE WHEN na = 0 OR nb = 0 THEN -2.0
             |             ELSE CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) END AS cosine FROM p),
             |b AS (SELECT * FROM r WHERE cosine >= 0.30 AND cosine < 0.85),
             |k AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM b)
             |SELECT query_id, rnk, neighbor_id, cosine FROM k WHERE rnk <= 5
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- X4: tokenizer-fit audit — per-source fertility (tokens per
    // word) and char-fallback share under the merge-rank-faithful
    // encoder; the "was this vocabulary trained for this domain"
    // gate (llm/TextOps.vocabFitBySource over bpeEncodeRanked). ----
    ("x4_vocab_fit",
      (s: SparkSession, dir: String) => {
        TextOps.vocabFitBySource(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source")
      },
      Some {
        val sep = "\u001f"
        def wrap(t: String) = sep + t + sep
        val chain = TextOps.DemoBpeMerges.foldLeft("enc") { case (e, (x, y)) =>
          s"replace($e, '${wrap(x) + wrap(y)}', '${wrap(x + y)}')"
        }
        s"""WITH bws AS (SELECT doc_id, string_split(lower(text), ' ') AS sw FROM documents),
           |bw AS (SELECT doc_id, wpos, sw[wpos] AS w
           |       FROM (SELECT doc_id, sw, unnest(generate_series(1, len(sw))) AS wpos FROM bws)
           |       WHERE sw[wpos] <> ''),
           |dw AS (SELECT DISTINCT w FROM bw),
           |e0 AS (SELECT w, '$sep' || array_to_string(string_split(w, ''), '$sep$sep') || '$sep' AS enc FROM dw),
           |ek AS (SELECT w, $chain AS enc FROM e0),
           |wt AS (SELECT w, string_split(substr(enc, 2, len(enc) - 2), '$sep$sep') AS toks FROM ek),
           |j AS (SELECT doc_id, wpos, toks FROM bw JOIN wt USING (w)),
           |tokc AS (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM j GROUP BY 1),
           |fl AS (SELECT doc_id, unnest(toks) AS tok FROM j),
           |ch AS (SELECT doc_id, CAST(sum(CASE WHEN len(tok) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_char FROM fl GROUP BY 1),
           |wc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words FROM bw GROUP BY 1),
           |per AS (SELECT d.source, d.doc_id,
           |    COALESCE(wc.n_words, 0) AS n_words, COALESCE(tokc.n_tokens, 0) AS n_tokens,
           |    COALESCE(ch.n_char, 0) AS n_char
           |  FROM documents d LEFT JOIN wc USING (doc_id)
           |  LEFT JOIN tokc USING (doc_id) LEFT JOIN ch USING (doc_id))
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS n_words,
           |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  CASE WHEN sum(n_words) = 0 THEN CAST(0 AS BIGINT)
           |       ELSE (CAST(sum(n_tokens) AS BIGINT) * 1000000) // CAST(sum(n_words) AS BIGINT) END AS fertility_ppm,
           |  CASE WHEN sum(n_tokens) = 0 THEN CAST(0 AS BIGINT)
           |       ELSE (CAST(sum(n_char) AS BIGINT) * 1000000) // CAST(sum(n_tokens) AS BIGINT) END AS char_tok_ppm
           |FROM per GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- STATS: minimum detectable effect per event type — the
    // experiment-DESIGN gate ("how small a lift could a 50/50 test on
    // this metric even see at 80% power"); exact integer moments,
    // standard rounded normal quantiles (dfw/AuditOps
    // .minDetectableEffect). Metric: per-user event count. ----
    ("q_power_mde",
      (s: SparkSession, dir: String) => {
        val perUser = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("x"))
        AuditOps.minDetectableEffect(perUser, col("event_type"), col("x"))
          .withColumnRenamed("grp", "event_type")
      },
      Some("""WITH u AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx
             |  FROM u GROUP BY 1),
             |f AS (SELECT event_type, n, sx, n // 2 AS n_per_arm,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    CASE WHEN n > 1 THEN sqrt(CAST(sxx * n - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
             |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS sd
             |  FROM st),
             |m AS (SELECT *, CASE WHEN n_per_arm > 0
             |    THEN (1.96 + 0.8416) * sd * sqrt(2.0 / CAST(n_per_arm AS DOUBLE)) END AS mde
             |  FROM f)
             |SELECT event_type, n, CAST(n_per_arm AS BIGINT) AS n_per_arm,
             |  round(mean, 6) AS mean, round(sd, 6) AS sd, round(mde, 6) AS mde_abs,
             |  CASE WHEN sx > 0 THEN CAST(round(mde / mean * 1000000) AS BIGINT) END AS mde_rel_ppm
             |FROM m ORDER BY event_type""".stripMargin)),

    // ---- MAINTENANCE: partition-skew audit on the ingest-day layout
    // key — max/avg row skew on the exact integer grid, the check a
    // capacity planner runs before making a column the partition key
    // (dfw/AuditOps.partitionSkew). ----
    ("m6_partition_skew",
      (s: SparkSession, dir: String) => {
        AuditOps.partitionSkew(Tables.load(s, dir, "events"),
          to_date(col("ts")))
      },
      Some("""WITH p AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS k,
             |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |    CAST(sum(c) AS BIGINT) AS total_rows,
             |    CAST(min(c) AS BIGINT) AS min_rows, CAST(max(c) AS BIGINT) AS max_rows
             |  FROM p),
             |h AS (SELECT k AS heaviest_key FROM p, a
             |  WHERE p.c = a.max_rows ORDER BY k LIMIT 1)
             |SELECT a.n_keys, a.total_rows, a.min_rows, a.max_rows,
             |  (a.max_rows * a.n_keys * 1000000) // a.total_rows AS skew_ppm,
             |  h.heaviest_key
             |FROM a, h""".stripMargin)),

    // ---- STATS: sample-ratio-mismatch check — the first diagnostic
    // every experiment platform runs daily: does the observed arm
    // split match the design? One-dof chi-squared over exact counts,
    // alarm at the conventional p < 0.001 (dfw/AuditOps
    // .sampleRatioCheck). Arm = md5(user) mod 3 == 0, design 1/3. ----
    ("q_srm",
      (s: SparkSession, dir: String) => {
        val users = Tables.load(s, dir, "events")
          .select(col("user_id")).distinct()
        AuditOps.sampleRatioCheck(users,
          pmod(DedupOps.md5TokenHash(col("user_id").cast("string")), lit(3)) === 0,
          expectedAPpm = 333333L)
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 = 0
             |             THEN 1 ELSE 0 END) AS BIGINT) AS n_a
             |  FROM u),
             |f AS (SELECT n, n_a, n - n_a AS n_b,
             |    CAST(n AS DOUBLE) * (333333 / 1000000.0) AS ea,
             |    CAST(n AS DOUBLE) * ((1000000 - 333333) / 1000000.0) AS eb FROM c)
             |SELECT n, n_a, n_b, CAST(333333 AS BIGINT) AS expected_a_ppm,
             |  CASE WHEN n > 0 THEN (n_a * 1000000) // n END AS observed_a_ppm,
             |  CASE WHEN n > 0 THEN round(
             |    (CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) / ea
             |    + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) / eb, 4) END AS chi2,
             |  CASE WHEN n > 0 THEN
             |    (CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) / ea
             |    + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) / eb > 10.8276 END AS srm
             |FROM f""".stripMargin)),

    // ---- STATS: SRM check, PRODUCTION-HASH twin (VERDICT r13/r14):
    // q_srm's only material cost is md5-ing every user id for the
    // engine-neutral arm assignment — the oracle tax, 8.5× per 10× at
    // sf1. The production form assigns arms with codegen'd xxhash64
    // over the RAW BIGINT (no string conversion, no md5), the hash a
    // real platform would bucket on. ORACLE-EXACT anyway: the oracle
    // replays Spark's xxhash64-of-a-long (seed 42, one XXH64 round +
    // avalanche) in pure DuckDB integer arithmetic — u64 emulated in
    // HUGEINT with an overflow-safe split multiply (xxhash64LongSql).
    // Same single partial-agg pass as q_srm. ----
    ("q_srm_prod",
      (s: SparkSession, dir: String) => {
        val users = Tables.load(s, dir, "events")
          .select(col("user_id")).distinct()
        AuditOps.sampleRatioCheck(users,
          pmod(xxhash64(col("user_id").cast("long")), lit(3)) === 0,
          expectedAPpm = 333333L)
      },
      Some(s"""WITH u AS (SELECT DISTINCT user_id FROM events),
             |${xxhash64LongCtes("u", "user_id")},
             |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN ((xx64 % 3) + 3) % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a
             |  FROM hx),
             |f AS (SELECT n, n_a, n - n_a AS n_b,
             |    CAST(n AS DOUBLE) * (333333 / 1000000.0) AS ea,
             |    CAST(n AS DOUBLE) * ((1000000 - 333333) / 1000000.0) AS eb FROM c)
             |SELECT n, n_a, n_b, CAST(333333 AS BIGINT) AS expected_a_ppm,
             |  CASE WHEN n > 0 THEN (n_a * 1000000) // n END AS observed_a_ppm,
             |  CASE WHEN n > 0 THEN round(
             |    (CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) / ea
             |    + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) / eb, 4) END AS chi2,
             |  CASE WHEN n > 0 THEN
             |    (CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) / ea
             |    + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) / eb > 10.8276 END AS srm
             |FROM f""".stripMargin)),

    // ---- STATS: distribution-free median CI from order statistics
    // (sign/binomial construction) — the honest interval when the
    // metric is skewed enough that the median was chosen over the
    // mean; all four order stats from ONE rank-select pass
    // (dfw/QuantileOps.medianCi). ----
    ("q_median_ci",
      (s: SparkSession, dir: String) => {
        graft.dfw.QuantileOps.medianCi(
          Tables.load(s, dir, "lineitem").select("l_extendedprice"),
          "l_extendedprice")
      },
      Some("""WITH s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
             |b AS (SELECT n,
             |    GREATEST(CAST(1 AS BIGINT), CAST(floor((CAST(n AS DOUBLE)
             |      - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS rlo,
             |    LEAST(n, CAST(ceil(1.0 + (CAST(n AS DOUBLE)
             |      + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS rhi,
             |    CAST(floor((CAST(n AS DOUBLE) - 1.0) * 0.5 + 1.0) AS BIGINT) AS mlo,
             |    CAST(ceil((CAST(n AS DOUBLE) - 1.0) * 0.5 + 1.0) AS BIGINT) AS mhi,
             |    ((CAST(n AS DOUBLE) - 1.0) * 0.5 + 1.0)
             |      - floor((CAST(n AS DOUBLE) - 1.0) * 0.5 + 1.0) AS mf
             |  FROM t),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s)
             |SELECT b.n,
             |  round(min(CASE WHEN r.rn = b.mlo THEN r.v END)
             |    + b.mf * (min(CASE WHEN r.rn = b.mhi THEN r.v END)
             |              - min(CASE WHEN r.rn = b.mlo THEN r.v END)), 6) AS median,
             |  round(min(CASE WHEN r.rn = b.rlo THEN r.v END), 6) AS ci_lo,
             |  round(min(CASE WHEN r.rn = b.rhi THEN r.v END), 6) AS ci_hi
             |FROM r, b GROUP BY b.n, b.mf""".stripMargin)),

    // ---- T: weight-of-evidence encoding + information value — the
    // supervised categorical screen ("does source predict
    // non-English?"); Laplace-adjusted shares, per-category IV terms
    // ppm-quantized before the order-free total (dfw/TransformOps
    // .woeEncode). ----
    ("t_woe_encode",
      (s: SparkSession, dir: String) => {
        TransformOps.woeEncode(Tables.load(s, dir, "documents"),
          col("source"), col("lang") =!= "en")
      },
      Some("""WITH c AS (SELECT source AS cat, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(n - n_bad) AS BIGINT) AS gt,
             |    CAST(sum(n_bad) AS BIGINT) AS bt, CAST(count(*) AS BIGINT) AS k FROM c),
             |w AS (SELECT c.cat, c.n, c.n_bad,
             |    ln(((CAST(c.n - c.n_bad AS DOUBLE) + 0.5) / (CAST(t.gt AS DOUBLE) + 0.5 * CAST(t.k AS DOUBLE)))
             |     / ((CAST(c.n_bad AS DOUBLE) + 0.5) / (CAST(t.bt AS DOUBLE) + 0.5 * CAST(t.k AS DOUBLE)))) AS woe,
             |    ((CAST(c.n - c.n_bad AS DOUBLE) + 0.5) / (CAST(t.gt AS DOUBLE) + 0.5 * CAST(t.k AS DOUBLE)))
             |     - ((CAST(c.n_bad AS DOUBLE) + 0.5) / (CAST(t.bt AS DOUBLE) + 0.5 * CAST(t.k AS DOUBLE))) AS dsh
             |  FROM c, t),
             |q AS (SELECT cat, n, n_bad, woe,
             |    CAST(round(dsh * woe * 1000000) AS BIGINT) AS iv_q FROM w),
             |tot AS (SELECT CAST(sum(iv_q) AS BIGINT) AS iv_total_q FROM q)
             |SELECT q.cat, q.n, q.n_bad, round(q.woe, 6) AS woe, q.iv_q, tot.iv_total_q
             |FROM q, tot ORDER BY q.cat""".stripMargin)),

    // ---- X3: contrastive training triplets — per anchor, its best
    // positive (cosine ≥ 0.40 — this corpus's near tail) × top-3
    // hard negatives ([0.25, 0.40) band); ONE probed-bucket pass
    // feeds both branches; the dataset
    // a SimCSE/DPR trainer consumes directly (llm/SimilarityOps
    // .trainingPairsIndexed, eighth operator off the shared IVF
    // index). ----
    ("x3_training_pairs",
      (s: SparkSession, dir: String) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 10 === 0)
        SimilarityOps.trainingPairsIndexed(queries, embLists(s, dir, 16),
            "vec_id", "embedding", centroids = embCentroids(s, dir, 16),
            nProbe = 4, posCos = 0.40, loCos = 0.25, hiCos = 0.40, negK = 3)
          .orderBy(col("query_id"), col("neg_rank"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
             |       FROM embeddings WHERE vec_id % 10 = 0),
             |n AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM v),
             |c AS (SELECT centroid_id, "__centq" AS cq, "__centn2" AS cn2
             |      FROM read_parquet('__GRAFT_IVF_C16__/*.parquet')),
             |sc AS (SELECT n.vec_id, n.q, n.n2, c.centroid_id,
             |         CASE WHEN n.n2 = 0 OR c.cn2 = 0 THEN -2.0
             |              ELSE CAST(list_sum(list_transform(list_zip(n.q, c.cq), x -> x[1] * x[2])) AS DOUBLE)
             |                   / sqrt(CAST(n.n2 * c.cn2 AS DOUBLE)) END AS s
             |       FROM n, c),
             |qa AS (SELECT vec_id AS query_id, q AS qv, n2 AS na, centroid_id
             |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn FROM sc)
             |       WHERE rn <= 4),
             |ca AS (SELECT centroid_id, vec_id AS neighbor_id, "__qv" AS qb, "__n2" AS nb
             |       FROM read_parquet('__GRAFT_IVF_B16__/*.parquet')),
             |p AS (SELECT qa.query_id, ca.neighbor_id,
             |        CAST(list_sum(list_transform(list_zip(qa.qv, ca.qb), x -> x[1] * x[2])) AS BIGINT) AS dot,
             |        qa.na, ca.nb
             |      FROM qa JOIN ca USING (centroid_id) WHERE qa.query_id <> ca.neighbor_id),
             |r AS (SELECT query_id, neighbor_id,
             |        CASE WHEN na = 0 OR nb = 0 THEN -2.0
             |             ELSE CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) END AS cosine FROM p),
             |pos AS (SELECT query_id, neighbor_id AS pos_id, cosine AS pos_cos
             |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rr
             |              FROM r WHERE cosine >= 0.40) WHERE rr = 1),
             |neg AS (SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS neg_rank,
             |        neighbor_id AS neg_id, cosine AS neg_cos
             |        FROM r WHERE cosine >= 0.25 AND cosine < 0.40)
             |SELECT pos.query_id, pos.pos_id, pos.pos_cos, neg.neg_rank, neg.neg_id, neg.neg_cos
             |FROM pos JOIN neg USING (query_id) WHERE neg.neg_rank <= 3
             |ORDER BY pos.query_id, neg.neg_rank""".stripMargin))
  )

  /** DuckDB oracle for [[graft.llm.GraphOps.hitsInt]] on the
    * customer→supplier purchase graph: the same integer half-steps
    * (Σ neighbor scores, then `s·1e6 div max`) unrolled as
    * materialized CTEs — floor division on non-negative Longs both
    * sides, every score bit-equal.
    */
  /** Shared oracle prelude for the ridge-probe queries: features `f`
    * (chars, spaces, stopword count per doc), exact HUGEINT moment
    * sums cast to DOUBLE, and the Cramer solve — the SQL mirrors
    * [[graft.dfw.FitOps]] term for term (same det3 cofactor expansion,
    * same left-associative IEEE order, `1e6` ridge λ as a DOUBLE
    * literal) so the unrounded β are bit-identical. `finalSelect`
    * consumes the `f` and `fit` CTEs.
    */
  private def ridgeProbeOracle(finalSelect: String): String =
    ridgeProbeOracleBy(null, finalSelect)

  /** Grouped variant: `byCol` (null for the global fit) threads
    * through features → moment sums (GROUP BY) → solve, mirroring
    * [[graft.dfw.FitOps.ridgeFit2By]].
    */
  private def ridgeProbeOracleBy(byCol: String, finalSelect: String): String = {
    val by = Option(byCol).map(_ + ", ").getOrElse("")
    val grp = Option(byCol).map(" GROUP BY " + _).getOrElse("")
    s"""WITH f AS (SELECT ${by}doc_id, CAST(length(text) AS BIGINT) AS x1,
      |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS x2,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS BIGINT) AS y
      |  FROM documents),
      |m AS (SELECT ${by}CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
      |    CAST(sum(x1 * x1) AS DOUBLE) AS s11, CAST(sum(x2 * x2) AS DOUBLE) AS s22,
      |    CAST(sum(x1 * x2) AS DOUBLE) AS s12,
      |    CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x1 * y) AS DOUBLE) AS s1y,
      |    CAST(sum(x2 * y) AS DOUBLE) AS s2y, CAST(sum(y * y) AS DOUBLE) AS syy
      |  FROM f$grp),
      |ml AS (SELECT m.*, s11 + 1e6 AS s11l, s22 + 1e6 AS s22l FROM m),
      |sol AS (SELECT ml.*,
      |    n * (s11l * s22l - s12 * s12) - s1 * (s1 * s22l - s12 * s2) + s2 * (s1 * s12 - s11l * s2) AS den,
      |    sy * (s11l * s22l - s12 * s12) - s1 * (s1y * s22l - s12 * s2y) + s2 * (s1y * s12 - s11l * s2y) AS b0n,
      |    n * (s1y * s22l - s12 * s2y) - sy * (s1 * s22l - s12 * s2) + s2 * (s1 * s2y - s1y * s2) AS b1n,
      |    n * (s11l * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11l * s2) AS b2n
      |  FROM ml),
      |bs AS (SELECT sol.*, b0n / den AS b0, b1n / den AS b1, b2n / den AS b2 FROM sol),
      |fit AS (SELECT ${by}CAST(n AS BIGINT) AS n, b0, b1, b2,
      |    1.0e0 - ((syy
      |      - 2.0e0 * (b0 * sy + b1 * s1y + b2 * s2y)
      |      + (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22
      |        + 2.0e0 * b0 * b1 * s1 + 2.0e0 * b0 * b2 * s2 + 2.0e0 * b1 * b2 * s12))
      |      / (syy - sy * sy / n)) AS r2
      |  FROM bs)
      |""".stripMargin + finalSelect
  }

  private def hitsOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""asum$k AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS s
         |  FROM e JOIN h${k - 1} h ON h.node = e.src GROUP BY 1),
         |am$k AS (SELECT GREATEST(max(s), 1) AS mx FROM asum$k),
         |a$k AS MATERIALIZED (SELECT n.node,
         |    CAST(COALESCE(x.s, 0) * 1000000 // am.mx AS BIGINT) AS auth
         |  FROM nodes n LEFT JOIN asum$k x ON x.node = n.node CROSS JOIN am$k am),
         |hsum$k AS MATERIALIZED (SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS s
         |  FROM e JOIN a$k a ON a.node = e.dst GROUP BY 1),
         |hm$k AS (SELECT GREATEST(max(s), 1) AS mx FROM hsum$k),
         |h$k AS MATERIALIZED (SELECT n.node,
         |    CAST(COALESCE(x.s, 0) * 1000000 // hm.mx AS BIGINT) AS hub
         |  FROM nodes n LEFT JOIN hsum$k x ON x.node = n.node CROSS JOIN hm$k hm)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
       |    CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
       |$steps
       |SELECT h.node, h.hub, a.auth
       |FROM h$rounds h JOIN a$rounds a ON a.node = h.node ORDER BY h.node""".stripMargin
  }

  /** DuckDB oracle for [[graft.dfw.PathOps.markovAttribution]]: the
    * journey/transition construction mirrors the Spark plan, and the
    * fixed-point solve unrolls the SAME `iters` integer-ppm Jacobi
    * sweeps as chained CTEs (it0..itN) — floor division on
    * non-negative Longs both sides, so every ppm bit matches.
    */
  private def markovOracleSql(iters: Int): String = {
    val sweeps = (1 to iters).map { k =>
      s"""it$k AS MATERIALIZED (SELECT o.rem, o.src AS state,
         |    CAST((COALESCE(cs.cv, 0) + COALESCE(vv.s, 0)) // o.o AS BIGINT) AS pv
         |  FROM outs o
         |  LEFT JOIN cst cs ON cs.rem = o.rem AND cs.src = o.src
         |  LEFT JOIN (SELECT mc.rem, mc.src, CAST(sum(mc.c * pp.pv) AS BIGINT) AS s
         |             FROM mchan mc JOIN it${k - 1} pp
         |               ON pp.rem = mc.rem AND pp.state = mc.dst
         |             GROUP BY 1, 2) vv ON vv.rem = o.rem AND vv.src = o.src)""".stripMargin
    }.mkString(",\n")
    // The event-grain chain (b→p→cp→kept) is MATERIALIZED: kept/cp are
    // each referenced by multiple tr branches, and DuckDB re-inlines
    // non-materialized CTEs per reference — at sf1 that re-evaluates
    // 12M-row window chains three times concurrently (the 64 GB peak
    // in the r17 gate). Materializing pins one evaluation each and
    // drops the peak to one window pass; cnt onward is tiny (channel
    // cardinality), value-identical either way.
    s"""WITH b AS MATERIALIZED (SELECT user_id, CAST(ts AS DATE) AS day, event_type AS ch, ts, event_id FROM events),
       |p AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS pos FROM b),
       |cp AS MATERIALIZED (SELECT *, min(CASE WHEN ch = 'purchase' THEN pos END)
       |    OVER (PARTITION BY user_id, day) AS cpos FROM p),
       |kept AS MATERIALIZED (SELECT user_id, day, ch, cpos,
       |    row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn,
       |    lead(ch) OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS nxt
       |  FROM cp WHERE ch <> 'purchase' AND (cpos IS NULL OR pos < cpos)),
       |tr AS (
       |  SELECT '(start)' AS src, ch AS dst FROM kept WHERE rn = 1
       |  UNION ALL
       |  SELECT ch AS src, COALESCE(nxt, CASE WHEN cpos IS NOT NULL THEN '(conv)' ELSE '(null)' END) AS dst FROM kept
       |  UNION ALL
       |  SELECT '(start)' AS src, '(conv)' AS dst FROM cp WHERE pos = 1 AND ch = 'purchase'),
       |cnt AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
       |chans AS (SELECT DISTINCT src AS ch FROM cnt WHERE src <> '(start)'),
       |chains AS (SELECT '(base)' AS rem UNION ALL SELECT ch FROM chans),
       |m AS (SELECT ch.rem, c.src, CASE WHEN c.dst = ch.rem THEN '(null)' ELSE c.dst END AS dst,
       |    CAST(sum(c.c) AS BIGINT) AS c
       |  FROM chains ch JOIN cnt c ON c.src <> ch.rem GROUP BY 1, 2, 3),
       |outs AS (SELECT rem, src, CAST(sum(c) AS BIGINT) AS o FROM m GROUP BY 1, 2),
       |cst AS (SELECT rem, src,
       |    CAST(sum(CASE WHEN dst = '(conv)' THEN c * 1000000 ELSE 0 END) AS BIGINT) AS cv
       |  FROM m WHERE dst IN ('(conv)', '(null)') GROUP BY 1, 2),
       |mchan AS (SELECT rem, src, dst, c FROM m WHERE dst NOT IN ('(conv)', '(null)')),
       |it0 AS (SELECT rem, src AS state, CAST(0 AS BIGINT) AS pv FROM outs),
       |$sweeps,
       |fin AS (SELECT rem, pv FROM it$iters WHERE state = '(start)'),
       |bs AS (SELECT pv AS pb FROM fin WHERE rem = '(base)'),
       |res AS (SELECT ch.ch AS channel, bs.pb AS p_base_ppm,
       |    COALESCE(f.pv, 0) AS p_removed_ppm,
       |    CASE WHEN bs.pb > 0
       |      THEN GREATEST(bs.pb - COALESCE(f.pv, 0), 0) * 1000000 // bs.pb
       |      ELSE CAST(0 AS BIGINT) END AS removal_ppm
       |  FROM chans ch LEFT JOIN fin f ON f.rem = ch.ch CROSS JOIN bs),
       |tot AS (SELECT CAST(sum(removal_ppm) AS BIGINT) AS sr FROM res)
       |SELECT channel, p_base_ppm, p_removed_ppm, removal_ppm,
       |  CASE WHEN tot.sr > 0 THEN removal_ppm * 1000000 // tot.sr
       |       ELSE CAST(0 AS BIGINT) END AS attr_ppm
       |FROM res, tot ORDER BY channel""".stripMargin
  }

  def queryMap: Map[String, (SparkSession, String) => DataFrame] =
    queries.map { case (n, f, _) => n -> f }.toMap

  def oracleMap: Map[String, String] =
    queries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
