package graft.llm

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.sources.Tables
import graft.sources.Materializer.freeze

/** Generic persisted-index lifecycle: round-trip any index DataFrame
  * through parquet with a `_graft_meta.json` sidecar holding an opaque
  * parameter string plus the corpus row count, and rebuild only when
  * either changes (or on an explicit force). The same
  * load-don't-rebuild contract as [[IvfIndex]], factored so every new
  * index family (PQ codebooks here; future graph/HNSW-style tables)
  * gets the 100 TB lifecycle for free instead of a session cache.
  *
  * All file I/O goes through the Hadoop FileSystem API, so `indexPath`
  * can be local, HDFS, or object storage.
  *
  * Concurrency contract: SINGLE WRITER. Index builds are out-of-band
  * maintenance jobs; two concurrent builders of the same `indexPath`,
  * or a reader racing a builder's parquet overwrite, see torn state —
  * same as any un-transactional table overwrite. The sidecar itself is
  * committed atomically (temp file + rename), so the worst a racing
  * reader observes is a MISSING sidecar (→ treated as stale →
  * rebuild), never a half-written one.
  */
private[llm] object IndexStore {

  private def metaPath(indexPath: String) = new Path(indexPath, "_graft_meta.json")

  /** Tombstone table for O(delta) DELETEs: a parquet table of deleted
    * ids living INSIDE the index directory under an `_`-prefixed name,
    * so both Spark's file-source discovery and the oracle's
    * read_parquet star-glob over the directory ignore it — the stored
    * index data is untouched by a delete; readers subtract the
    * tombstones ([[read]]); [[compact]] folds them in.
    */
  private def tombstonePath(indexPath: String) = new Path(indexPath, "_graft_tombstones")

  /** True only when the tombstone directory holds COMMITTED parquet
    * data files (names not starting with `_` or `.`). A crash during
    * the first tombstone append can leave the directory with only a
    * `_temporary` staging subtree; schema inference over that throws,
    * so readers must treat it as "no tombstones" — which is also the
    * correct semantics: a partial append means the sidecar was never
    * re-stamped, so the next load rebuilds anyway (ADVICE r14).
    */
  private def hasTombstones(fs: org.apache.hadoop.fs.FileSystem, tp: Path): Boolean =
    fs.exists(tp) && fs.listStatus(tp).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  private def fsFor(df: DataFrame, p: Path) =
    p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)

  private def fsFor(spark: org.apache.spark.sql.SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit `content` to `p` atomically: write a unique temp sibling,
    * delete any previous `p`, rename temp → `p`. Rename is atomic on
    * HDFS and POSIX; the delete+rename pair can only expose "no
    * sidecar" (→ rebuild), never partial bytes.
    */
  private[llm] def writeAtomic(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                               content: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"IndexStore: failed to commit sidecar $p")
  }

  private[llm] def render(params: String, corpusSig: String): String =
    s"""{"params":${quote(params)},"corpus":${quote(corpusSig)}}"""

  /** Cheap corpus-drift signature, NO Spark job on the production
    * path. A file-backed corpus (parquet et al.) hashes its input file
    * statuses — (path, length, mtime) per file, fetched with one
    * `listStatus` per parent directory — pure filesystem metadata, so
    * a warm index load never scans the corpus (at 100 TB a per-call
    * `count()` is a full scan for non-parquet sources). Appends,
    * deletes, and overwrites change the file set, lengths, or mtimes
    * and trigger a rebuild — up to the store's mtime resolution: an
    * in-place same-length overwrite within one mtime tick (1 s on some
    * local filesystems; coarser or rename-preserving on some object
    * stores) is undetected, as is any mutation that preserves all
    * three fields — callers needing content-level drift detection must
    * pass `rebuild = true` (or version their corpus paths, the usual
    * immutable-data-lake discipline).
    *
    * The signature covers the QUERY as well as the files: a corpus
    * that is a transformation over file scans (filter / projection /
    * union — anything beyond a bare, possibly aliased, relation) mixes
    * the canonicalized logical plan into the hash, so changing the
    * corpus-defining query invalidates the index even when the
    * underlying files did not move. Bare scans omit the plan term
    * (their identity IS the file set), keeping the signature stable
    * across sessions for the common corpus-as-table case.
    *
    * A non-file-backed corpus (in-memory test frames) falls back to a
    * row count plus the plan hash.
    */
  private[llm] def corpusSignature(corpus: DataFrame): String = {
    val files = corpus.inputFiles
    val planTerm =
      if (isBareScan(corpus.queryExecution.analyzed)) ""
      else {
        // hash the canonicalized plan NODE BY NODE over the FULL
        // constructor argument list (productIterator), not its
        // toString: plan strings truncate field lists at
        // spark.sql.debug.maxToStringFields, so two wide projections
        // differing only past the cutoff would collide. Hashing only
        // node.expressions (the pre-round-9 shape) missed every
        // non-expression field — join type, sample bounds/seed, set-op
        // flags — so `a INNER JOIN b` and `a LEFT ANTI JOIN b` on the
        // same condition produced one signature and silently shared an
        // index (ADVICE r8). Each element is framed with start/end
        // marker bytes so adjacent strings can never re-segment into a
        // colliding byte stream (the r8 boundary-ambiguity note).
        // Expression.toString is never truncated, and canonicalization
        // normalizes exprIds, so the digest stays deterministic across
        // sessions (spec-pinned).
        val md = java.security.MessageDigest.getInstance("MD5")
        corpus.queryExecution.analyzed.canonicalized.foreach { node =>
          md.update(2: Byte)
          md.update(node.getClass.getName.getBytes(StandardCharsets.UTF_8))
          md.update(0: Byte)
          node.productIterator.foreach(hashPlanArg(md, _))
        }
        ":plan:" + md.digest().map("%02x".format(_)).mkString
      }
    if (files.isEmpty) s"count:${corpus.count()}$planTerm"
    else {
      val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
      val md = java.security.MessageDigest.getInstance("MD5")
      files.map(new Path(_)).groupBy(_.getParent).toSeq
        .flatMap { case (parent, ps) =>
          val fs = parent.getFileSystem(conf)
          val names = ps.map(_.getName).toSet
          fs.listStatus(parent)
            .filter(st => names.contains(st.getPath.getName))
            .map(st => s"$parent/${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        }
        .sorted
        .foreach(e => md.update(e.getBytes(StandardCharsets.UTF_8)))
      s"files:${files.length}:" + md.digest().map("%02x".format(_)).mkString + planTerm
    }
  }

  /** Digest one logical-plan constructor argument. Child plans are
    * skipped (the node-by-node `foreach` traversal already covers
    * them); collections and Options recurse per element; expressions
    * hash their untruncated toString; everything else (JoinType,
    * sample bounds, seeds, flags, schemas) hashes its String form.
    * Every element is wrapped in start(1)/end(0) marker bytes —
    * unambiguous framing, so no concatenation of distinct argument
    * lists can produce the same byte stream.
    */
  private def hashPlanArg(md: java.security.MessageDigest, arg: Any): Unit = {
    md.update(1: Byte)
    arg match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =>
        md.update('P'.toByte) // structure captured by the traversal
      case e: org.apache.spark.sql.catalyst.expressions.Expression =>
        md.update(e.toString.getBytes(StandardCharsets.UTF_8))
      case o: Option[_] => o.foreach(hashPlanArg(md, _))
      case s: Iterable[_] => s.foreach(hashPlanArg(md, _))
      case other =>
        md.update(String.valueOf(other).getBytes(StandardCharsets.UTF_8))
    }
    md.update(0: Byte)
  }

  /** True when the analyzed plan is a bare (possibly aliased) source
    * relation — the case where the file set alone identifies the
    * corpus and the signature can stay plan-free (and therefore
    * byte-stable across sessions).
    */
  private def isBareScan(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => isBareScan(a.child)
      case _ => false
    }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Raw sidecar contents, if present. */
  def readMetaRaw(corpus: DataFrame, indexPath: String): Option[String] = {
    val p = metaPath(indexPath)
    val fs = fsFor(corpus, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Re-stamp `indexPath`'s sidecar for the CURRENT state of `corpus`
    * without touching the stored data — the commit step of an
    * incremental index update: the caller appends delta-derived rows
    * to the index parquet, then stamps so the next [[loadOrBuild]]
    * with the same params sees the extended index as fresh.
    */
  private[llm] def stamp(corpus: DataFrame, params: String, indexPath: String): Unit = {
    val p = metaPath(indexPath)
    writeAtomic(fsFor(corpus, p), p, render(params, corpusSignature(corpus)))
  }

  /** Load the persisted index at `indexPath`, or (re)build via
    * `build` when absent, stale (params or corpus signature changed),
    * or forced. Returns the index read back from parquet — minus any
    * tombstoned rows ([[read]]) — so every caller runs against the
    * same persisted artifact.
    *
    * Drift detection is [[corpusSignature]]: file metadata for
    * file-backed corpora (zero Spark jobs on a warm load), row count
    * otherwise. In-place mutations invisible to both detectors
    * require `rebuild = true`.
    */
  def loadOrBuild(corpus: DataFrame, params: String, indexPath: String,
                  rebuild: Boolean)(build: => DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    val fresh = render(params, corpusSignature(corpus))
    val reuse = !rebuild && readMetaRaw(corpus, indexPath).contains(fresh)
    if (!reuse) {
      val built = build
      built.write.mode("overwrite").parquet(indexPath)
      // the overwrite replaced the whole directory, but clear the
      // tombstone table explicitly too — a fresh build subsumes every
      // prior delete, and a leftover tombstone would silently subtract
      // live rows from the new index
      fsFor(spark, tombstonePath(indexPath)).delete(tombstonePath(indexPath), true)
      val p = metaPath(indexPath)
      writeAtomic(fsFor(corpus, p), p, fresh)
      // the new files would otherwise cost a schema-inference job
      Tables.recordWritten(spark, indexPath, built.schema)
    }
    read(spark, indexPath)
  }

  /** The stored index as its readers must see it: the parquet table
    * minus tombstoned ids. With no tombstone table this is a bare
    * parquet scan (the overwhelmingly common state); with one, the
    * tombstones anti-join on the id column they were written with —
    * BROADCAST while the tombstone table is small (the normal regime:
    * |deleted| ids, compacted away on the caller's schedule), falling
    * back to a keyed shuffle join past 100 MB of tombstone parquet: a
    * mass-delete wave at 100 TB must not OOM every reader's driver,
    * and a tombstone table that big is the signal to [[compact]].
    */
  def read(spark: org.apache.spark.sql.SparkSession, indexPath: String): DataFrame = {
    val df = Tables.readParquet(spark, indexPath)
    val tp = tombstonePath(indexPath)
    val fs = fsFor(spark, tp)
    if (!hasTombstones(fs, tp)) df
    else {
      val ts = Tables.readParquet(spark, tp.toString).distinct()
      val tsBytes = fs.listStatus(tp)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(_.getLen).sum
      val hinted =
        if (tsBytes < (100L << 20)) org.apache.spark.sql.functions.broadcast(ts) else ts
      // the USING-join would move the id column first; re-select the
      // stored order so delete is invisible to schema-sensitive callers
      df.join(hinted, ts.columns.toSeq, "left_anti")
        .select(df.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
    }
  }

  /** O(delta) DELETE: append `deletedIds` to the index's tombstone
    * table and re-stamp the sidecar for the post-delete corpus. The
    * cost is one |delta|-row parquet write — the stored index data is
    * NOT rewritten (that's [[compact]]'s job, on the caller's
    * schedule).
    *
    * Same freshness protocol as the appends: the stored sidecar must
    * equal exactly what a fresh PRE-delete build stamped, else the
    * tombstones would subtract from a missing/stale/
    * differently-parameterized index. Returns true on the fast path;
    * false means the caller must full-rebuild over the post-delete
    * corpus. Crash between tombstone append and stamp leaves a stale
    * sidecar → next load rebuilds (safe, never wrong); a replayed
    * delete re-appends the same ids, which the reader's `distinct()`
    * and anti-join make harmless (idempotent by value).
    */
  private[llm] def deleteFrom(deletedIds: DataFrame, storedIdCol: String,
                              params: String, indexPath: String,
                              corpusAfterDelete: DataFrame,
                              preDeleteSig: String): Boolean = {
    val expected = render(params, preDeleteSig)
    if (!readMetaRaw(corpusAfterDelete, indexPath).contains(expected)) false
    else {
      val spark = deletedIds.sparkSession
      val tp = tombstonePath(indexPath)
      // every delete against one index must tombstone the SAME id
      // column: appending a second column name would give the parquet
      // union a merged two-column schema full of nulls, and read()'s
      // anti-join (on all tombstone columns) would then match nothing
      if (hasTombstones(fsFor(spark, tp), tp)) {
        val existing = spark.read.parquet(tp.toString).columns.toSeq
        require(existing == Seq(storedIdCol),
          s"IndexStore.deleteFrom: tombstone table at $tp was written with id " +
            s"column(s) ${existing.mkString(",")}; refusing to append '$storedIdCol'")
      }
      deletedIds.select(org.apache.spark.sql.functions.col(storedIdCol))
        .distinct()
        .write.mode("append").parquet(tp.toString)
      stamp(corpusAfterDelete, params, indexPath)
      true
    }
  }

  /** Drop `reinsertedIds` from the tombstone table — the append-path
    * half of the delete protocol: without it, a row re-appended with a
    * previously deleted id would be silently filtered by [[read]]'s
    * anti-join and then permanently dropped by [[compact]] (the
    * delete-then-reinsert anomaly, ADVICE r14). Every index append
    * fast path calls this with the delta's ids BEFORE re-stamping the
    * sidecar, so a crash mid-prune leaves a stale sidecar → next load
    * rebuilds (which clears tombstones entirely). The surviving
    * tombstones are rewritten via a temp sibling, fully materialized
    * before the old table is swapped out; |tombstones| is tiny by
    * construction, so this is driver-cheap.
    */
  /** Append-path companion to [[pruneTombstones]]: split a delta into
    * resurrected ids and genuinely new rows. Ids present in any of the
    * family's tombstone tables are RESURRECTED — their tombstones are
    * pruned so the already-stored rows come back to life — and their
    * delta rows are EXCLUDED from the returned frame: appending them
    * too would leave duplicate index entries (two identical list rows
    * make a top-k return the same neighbor twice; duplicate shingles
    * inflate Jaccard set sizes). This assumes the id↔content
    * discipline every family documents: a re-appended id carries the
    * same content its stored rows were built from. Re-inserting
    * CHANGED content under a reused id requires `rebuild = true` (or
    * compact between the delete and the append, which makes the id
    * genuinely new again). Both sides are O(|delta| + |tombstones|):
    * the tombstone tables broadcast, nothing scans the stored index.
    */
  private[llm] def resurrectOrFilter(delta: DataFrame, deltaIdCol: String,
                                     storedIdCol: String,
                                     indexPaths: Seq[String]): DataFrame = {
    val spark = delta.sparkSession
    val tombstoned = indexPaths.flatMap { ip =>
      val tp = tombstonePath(ip)
      if (!hasTombstones(fsFor(spark, tp), tp)) None
      else {
        val ts = spark.read.parquet(tp.toString)
        if (ts.columns.toSeq == Seq(storedIdCol)) Some(ts) else None
      }
    }
    if (tombstoned.isEmpty) delta
    else {
      // materialize the tombstoned-id set BEFORE pruning rewrites the
      // tables the lazy scans would otherwise re-read post-swap
      val ts = freeze(tombstoned.reduce(_ union _).distinct()
        .select(org.apache.spark.sql.functions.col(storedIdCol).as(deltaIdCol)))
      // the id↔content discipline is documented but can't be enforced
      // here (content columns are family-specific); the least we owe
      // the caller is a SIGNAL — a silent drop of changed content
      // under a reused id is undebuggable. The set is already
      // materialized, so the count is a broadcast-semi over the delta.
      val resurrected = delta
        .join(org.apache.spark.sql.functions.broadcast(ts), Seq(deltaIdCol), "left_semi")
        .select(org.apache.spark.sql.functions.col(deltaIdCol)).distinct().count()
      if (resurrected > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"IndexStore.resurrectOrFilter: $resurrected delta id(s) were tombstoned — " +
            "their stored rows are resurrected and the DELTA rows are EXCLUDED from the " +
            "append. If the re-appended content differs from what the stored rows were " +
            "built from, rebuild the index (rebuild = true) or compact() before appending.")
      val deltaIds = delta.select(
        org.apache.spark.sql.functions.col(deltaIdCol).as(storedIdCol))
      indexPaths.foreach(ip => pruneTombstones(spark, ip, deltaIds, storedIdCol))
      delta.join(org.apache.spark.sql.functions.broadcast(ts), Seq(deltaIdCol), "left_anti")
    }
  }

  private[llm] def pruneTombstones(spark: org.apache.spark.sql.SparkSession,
                                   indexPath: String, reinsertedIds: DataFrame,
                                   storedIdCol: String): Unit = {
    val tp = tombstonePath(indexPath)
    val fs = fsFor(spark, tp)
    if (!hasTombstones(fs, tp)) return
    val ts = spark.read.parquet(tp.toString)
    if (ts.columns.toSeq != Seq(storedIdCol)) return // foreign id col: nothing to prune
    val kept = ts.join(
      org.apache.spark.sql.functions.broadcast(
        reinsertedIds.select(org.apache.spark.sql.functions.col(storedIdCol)).distinct()),
      Seq(storedIdCol), "left_anti")
    val tmp = new Path(tp.getParent,
      s".${tp.getName}.prune-${java.util.UUID.randomUUID().toString.take(8)}")
    kept.write.parquet(tmp.toString) // materialized before tp is touched
    // rename-aside swap, same sequence as compact(): delete-then-rename
    // would drop ALL surviving tombstones on a crash between the two
    // (resurrecting every deleted row for direct read() callers); the
    // park-then-swap leaves either the old or the new table, never
    // neither
    val old = new Path(tp.getParent,
      s".${tp.getName}.old-${java.util.UUID.randomUUID().toString.take(8)}")
    if (!fs.rename(tp, old))
      throw new java.io.IOException(s"IndexStore.pruneTombstones: failed to park $tp -> $old")
    if (!fs.rename(tmp, tp))
      throw new java.io.IOException(
        s"IndexStore.pruneTombstones: failed to swap $tmp -> $tp (pre-prune copy parked at $old)")
    fs.delete(old, true)
  }

  /** Fold tombstones into the stored data: rewrite the index minus
    * deleted ids, drop the tombstone table, keep the sidecar (the
    * LOGICAL content is unchanged, so params + corpus signature stay
    * valid). Run it when the tombstone fraction makes the per-read
    * anti-join or the dead-row scan cost noticeable — the same
    * schedule-it-yourself contract as Delta/Iceberg compaction.
    *
    * Crash windows (rename-aside swap, ADVICE r14): the compacted copy
    * is written to a temp sibling first — a crash before any rename
    * leaves the original untouched (plus a dangling temp dir). The
    * swap is then rename(src → src.old), rename(tmp → src),
    * delete(src.old): a crash between the two renames leaves the index
    * ABSENT at its path with the pre-compact copy parked at the
    * `.old-*` sibling — [[loadOrBuild]] recovers by rebuilding (no
    * sidecar at the path), direct [[read]] callers fail until then,
    * and the parked copy is available for manual recovery. A crash
    * between swap and sidecar rewrite leaves a missing sidecar → next
    * load rebuilds (safe). On object stores directory rename is a
    * non-atomic copy; run compaction as the out-of-band single writer
    * the header contract already requires. No-op when no tombstones
    * exist.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, indexPath: String): Unit = {
    val tp = tombstonePath(indexPath)
    val fs = fsFor(spark, tp)
    if (!hasTombstones(fs, tp)) return
    val sidecar = {
      val p = metaPath(indexPath)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim)
        finally in.close()
      }
    }
    val src = new Path(indexPath)
    val tmp = new Path(src.getParent,
      s".${src.getName}.compact-${java.util.UUID.randomUUID().toString.take(8)}")
    // materializes fully (scan + write) BEFORE the source is touched
    read(spark, indexPath).write.parquet(tmp.toString)
    val old = new Path(src.getParent,
      s".${src.getName}.old-${java.util.UUID.randomUUID().toString.take(8)}")
    if (!fs.rename(src, old))
      throw new java.io.IOException(s"IndexStore.compact: failed to park $src -> $old")
    if (!fs.rename(tmp, src))
      throw new java.io.IOException(
        s"IndexStore.compact: failed to swap $tmp -> $src (pre-compact copy parked at $old)")
    fs.delete(old, true)
    sidecar.foreach(writeAtomic(fs, metaPath(indexPath), _))
  }
}

/** Persisted lifecycle for PQ codebooks (SURVEY.md §2.8 X3): the
  * trained `(m, code, __cw, __cwn2)` table from
  * [[SimilarityOps.pqCodebooks]] is a corpus-wide artifact — build it
  * once, store it beside the corpus, and let every
  * [[SimilarityOps.pqEncode]]/[[SimilarityOps.pqTopK]] batch load it.
  * Encoded vectors themselves can additionally be persisted (they are
  * 32× smaller than the embeddings), but codes derive deterministically
  * from (codebooks, corpus), so the codebooks are the one artifact
  * whose loss forces retraining.
  */
object PqIndex {

  /** Load persisted codebooks, or (re)build when absent, stale
    * (parameters or corpus count changed), or forced.
    */
  def loadOrBuild(corpus: DataFrame, idCol: String, vecCol: String,
                  nSubspaces: Int, nCodes: Int, kmeansIters: Int,
                  indexPath: String, rebuild: Boolean = false): DataFrame =
    IndexStore.loadOrBuild(corpus,
      s"pq:nSubspaces=$nSubspaces,nCodes=$nCodes,kmeansIters=$kmeansIters",
      indexPath, rebuild) {
      SimilarityOps.pqCodebooks(corpus, idCol, vecCol, nSubspaces, nCodes, kmeansIters)
    }

  private def codesParams(nSubspaces: Int, nCodes: Int, kmeansIters: Int): String =
    s"pq-codes:nSubspaces=$nSubspaces,nCodes=$nCodes,kmeansIters=$kmeansIters"

  /** Persisted ENCODED CODES ([[SimilarityOps.pqEncode]]) — the second
    * half of a complete PQ index and the artifact a 100 TB ADC scan
    * actually reads (32× smaller than the embeddings; re-encoding the
    * corpus per query batch is a full scan). Same lifecycle as the
    * IVF lists: sidecar keyed by the SAME build parameters as the
    * codebooks, so a codebook retrain implies a codes rebuild —
    * `codebooks` must be the loaded index this codes table is derived
    * from (pass the [[loadOrBuild]] result).
    */
  def loadOrBuildCodes(corpus: DataFrame, idCol: String, vecCol: String,
                       codebooks: DataFrame, nSubspaces: Int, nCodes: Int,
                       kmeansIters: Int, indexPath: String,
                       rebuild: Boolean = false): DataFrame =
    IndexStore.loadOrBuild(corpus, codesParams(nSubspaces, nCodes, kmeansIters),
      indexPath, rebuild) {
      SimilarityOps.pqEncode(corpus, idCol, vecCol, codebooks, nSubspaces)
    }

  /** True when the stored codes at `indexPath` are FRESH for exactly
    * this (params, corpus) state — same contract as
    * [[IvfIndex.listsFresh]].
    */
  def codesFresh(corpus: DataFrame, nSubspaces: Int, nCodes: Int,
                 kmeansIters: Int, indexPath: String): Boolean =
    IndexStore.readMetaRaw(corpus, indexPath).contains(
      IndexStore.render(codesParams(nSubspaces, nCodes, kmeansIters),
        IndexStore.corpusSignature(corpus)))

  /** O(delta) APPEND to the persisted codes — codes are per-row
    * (codebooks do not move on append, the same standard maintenance
    * semantics as IVF centroids), so the delta encodes alone and
    * appends. Same protocol and freshness guard as
    * [[IvfIndex.appendToLists]]: snapshot
    * `preAppendSig = IvfIndex.corpusSig(corpus)` BEFORE appending to
    * the corpus store; a missing/stale/differently-parameterized
    * sidecar falls back to a full rebuild over `corpusAfterAppend`.
    * Re-appended previously-deleted ids are resurrected and excluded
    * from the delta ([[IndexStore.resurrectOrFilter]]).
    */
  def appendToCodes(newRows: DataFrame, idCol: String, vecCol: String,
                    codebooks: DataFrame, nSubspaces: Int, nCodes: Int,
                    kmeansIters: Int, corpusAfterAppend: DataFrame,
                    indexPath: String, preAppendSig: String): Unit = {
    val params = codesParams(nSubspaces, nCodes, kmeansIters)
    val expected = IndexStore.render(params, preAppendSig)
    if (IndexStore.readMetaRaw(corpusAfterAppend, indexPath).contains(expected)) {
      val toAppend = IndexStore.resurrectOrFilter(newRows, idCol, idCol, Seq(indexPath))
      SimilarityOps.pqEncode(toAppend, idCol, vecCol, codebooks, nSubspaces)
        .write.mode("append").parquet(indexPath)
      IndexStore.stamp(corpusAfterAppend, params, indexPath)
    } else {
      System.err.println(
        s"PqIndex.appendToCodes: stored codes at $indexPath are missing, stale, " +
          "or built with different parameters — falling back to a full rebuild")
      loadOrBuildCodes(corpusAfterAppend, idCol, vecCol, codebooks, nSubspaces,
        nCodes, kmeansIters, indexPath, rebuild = true)
    }
  }

  /** O(delta) DELETE from the persisted codes — tombstone the ids
    * instead of re-encoding the corpus ([[IndexStore.deleteFrom]]);
    * every [[IndexStore.read]]-routed load subtracts them and
    * [[compactCodes]] folds them in on the caller's schedule. Same
    * protocol as [[IvfIndex.removeFromLists]]: returns true on the
    * O(delta) fast path, false when the caller must rebuild over the
    * post-delete corpus.
    */
  def removeFromCodes(deletedIds: DataFrame, idCol: String,
                      nSubspaces: Int, nCodes: Int, kmeansIters: Int,
                      corpusAfterDelete: DataFrame, indexPath: String,
                      preDeleteSig: String): Boolean =
    IndexStore.deleteFrom(deletedIds, idCol,
      codesParams(nSubspaces, nCodes, kmeansIters),
      indexPath, corpusAfterDelete, preDeleteSig)

  /** Fold any tombstones into the stored codes ([[IndexStore.compact]]). */
  def compactCodes(spark: org.apache.spark.sql.SparkSession, indexPath: String): Unit =
    IndexStore.compact(spark, indexPath)
}
