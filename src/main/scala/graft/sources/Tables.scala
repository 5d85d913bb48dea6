package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Data sources (SURVEY.md §2.1, S1–S6).
  *
  * The reference loads MATLAB `.mat` files eagerly into driver memory
  * (`/root/reference/DFW/tools.py:58-79`); our engine scans Parquet
  * lazily through the DataSource V2 path, so predicate pushdown and
  * column pruning reach the file scan for free.
  */
object Tables {

  /** The driver-generated testdata tables (TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** S3: path templating — `{key}` substitution from a config map
    * (reference `tools.py:114-123`, `DatabaseStr.decode`). Only int,
    * long, float, double and string values are supported, mirroring
    * the reference's type check at `tools.py:118-119`.
    */
  def renderPath(template: String, vars: Map[String, Any]): String =
    vars.foldLeft(template) { case (s, (k, v)) =>
      v match {
        case _: Int | _: Long | _: Float | _: Double | _: String =>
          s.replace(s"{$k}", v.toString)
        case other =>
          throw new IllegalArgumentException(
            s"only int, float and str type supported, please check key $k (got ${other.getClass.getSimpleName})")
      }
    }

  /** S4: format-name normalization — strip any case-variant suffix and
    * re-append the canonical one (reference `preprocess.py:428-433`
    * does this for `.mat`; our canonical on-disk format is parquet).
    */
  def normalizeFormat(name: String, suffix: String = "parquet"): String =
    name.replaceAll("(?i)\\." + suffix + "$", "") + "." + suffix

  /** S1 + S5: scan with existence check. A missing file is a fatal
    * analysis error (reference `preprocess.py:398-399` exits; we throw).
    *
    * The `events` table's `ts` column has shifted physical type between
    * testdata generations (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)), so
    * the load is type-adaptive ([[adaptEventTs]]) instead of assuming
    * one physical encoding: whatever the scan yields, callers see a
    * session-zone `timestamp` — the contract every downstream window /
    * as-of / sessionize operator and the DuckDB oracle rely on.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/${normalizeFormat(name)}"
    val raw = readParquet(spark, path)
    assertSchema(name, raw.schema)
    if (name == "events") adaptEventTs(raw) else adaptNanosTs(name, raw)
  }

  /** Every file under a path as (name, length, modification time), and
    * the session's parquet settings: what an inferred schema depends on. */
  private type Fingerprint = (Vector[(String, Long, Long)], Map[String, String])

  /** Qualified path → the fingerprint its schema was inferred under, and
    * that schema. One entry per path: a re-inference replaces it. */
  private val schemas = TrieMap.empty[String, (Fingerprint, StructType)]

  /** `spark.read.parquet(path)` without a schema job on a repeat read.
    * Spark infers a parquet schema with a one-task job on every read;
    * the inferred schema is kept per qualified path with its
    * [[Fingerprint]] and handed back with `.schema(...)` while the
    * fingerprint is unchanged. A rewritten, added or removed file
    * re-infers. A missing path reads as before (Spark's own error).
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      val (key, fingerprint) = keyed(spark, fs, p)
      schemas.get(key) match {
        case Some((`fingerprint`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          schemas.put(key, (fingerprint, df.schema))
          df
      }
    }
  }

  /** Records the schema of a parquet table just written from a frame
    * with schema `written`, under the path's current fingerprint, so
    * the next [[readParquet]] of the unchanged files runs no schema
    * job. A read sees what the writer stored with every field made
    * nullable; that is what is recorded. Call it after the last
    * change to the directory (sidecars included).
    */
  def recordWritten(spark: SparkSession, path: String, written: StructType): Unit = {
    val p = new Path(path)
    val (key, fingerprint) = keyed(spark, p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    schemas.put(key, (fingerprint, nullable(written)))
  }

  private def keyed(spark: SparkSession, fs: FileSystem, p: Path): (String, Fingerprint) = {
    val it = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
    (fs.makeQualified(p).toString, (files, spark.conf.getAll.filter(_._1.contains("parquet"))))
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  // ---------------------------------------------------------------
  // Schema-drift defense: the driver regenerates the testdata between
  // rounds and physical types have shifted underneath the engine
  // before (events.ts: TIMESTAMP(NANOS) → TIMESTAMP(MICROS), which
  // silently killed every events query). Every load now checks the
  // scanned schema against a per-table contract of accepted type
  // FAMILIES — physical-width variants that the engine adapts or
  // handles uniformly — and fails with one precise message naming the
  // table and column instead of N opaque downstream analysis errors.
  // ---------------------------------------------------------------

  import org.apache.spark.sql.types._

  /** Accepted type families. `ts` includes LongType because a legacy
    * TIMESTAMP(NANOS) file scanned under
    * `spark.sql.legacy.parquet.nanosAsLong=true` yields nanos-as-long
    * (adapted back to `timestamp` in [[adaptEventTs]]/[[adaptNanosTs]]).
    */
  private val families: Map[String, DataType => Boolean] = Map(
    "int" -> (t => t == IntegerType || t == LongType || t == ShortType),
    "float" -> (t => t == FloatType || t == DoubleType),
    "str" -> (_ == StringType),
    "ts" -> (t => t == LongType || t == TimestampType || t == TimestampNTZType),
    "float_array" -> {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })

  /** The driver-table schema contract (TESTDATA.md): column → family. */
  private[sources] val expectedColumns: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "str"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "str", "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "int", "c_name" -> "str", "c_nationkey" -> "int",
      "c_acctbal" -> "float", "c_mktsegment" -> "str"),
    "supplier" -> Seq("s_suppkey" -> "int", "s_name" -> "str", "s_nationkey" -> "int",
      "s_acctbal" -> "float"),
    "part" -> Seq("p_partkey" -> "int", "p_name" -> "str", "p_brand" -> "str",
      "p_type" -> "str", "p_size" -> "int", "p_retailprice" -> "float"),
    "orders" -> Seq("o_orderkey" -> "int", "o_custkey" -> "int", "o_orderstatus" -> "str",
      "o_totalprice" -> "float", "o_orderdate" -> "ts", "o_orderpriority" -> "str"),
    "lineitem" -> Seq("l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
      "l_linenumber" -> "int", "l_quantity" -> "float", "l_extendedprice" -> "float",
      "l_discount" -> "float", "l_tax" -> "float", "l_returnflag" -> "str",
      "l_linestatus" -> "str", "l_shipdate" -> "ts"),
    "events" -> Seq("event_id" -> "int", "ts" -> "ts", "user_id" -> "int",
      "event_type" -> "str", "value" -> "float", "props" -> "str"),
    "documents" -> Seq("doc_id" -> "int", "text" -> "str", "lang" -> "str",
      "source" -> "str", "n_chars" -> "int"),
    "embeddings" -> Seq("vec_id" -> "int", "embedding" -> "float_array", "label" -> "int"))

  /** Fail fast with a table/column-precise message when a scanned
    * schema violates the contract. Extra columns are tolerated (the
    * driver may enrich tables); missing or family-incompatible ones
    * are not.
    */
  def assertSchema(table: String, schema: StructType): Unit =
    expectedColumns.get(table).foreach { cols =>
      cols.foreach { case (c, fam) =>
        schema.fields.find(_.name == c) match {
          case None => throw new IllegalStateException(
            s"$table.parquet schema drift: column '$c' is missing " +
              s"(scanned columns: ${schema.fieldNames.mkString(", ")})")
          case Some(f) if !families(fam)(f.dataType) => throw new IllegalStateException(
            s"$table.parquet schema drift: column '$c' scanned as " +
              s"${f.dataType.simpleString}, engine accepts family '$fam'")
          case _ => ()
        }
      }
    }

  /** Adapt any non-events `ts`-family column that scanned as raw long
    * (a legacy TIMESTAMP(NANOS) file under nanosAsLong) back to
    * `timestamp`; typed timestamp columns pass through untouched.
    */
  private def adaptNanosTs(table: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    expectedColumns.getOrElse(table, Nil).collect {
      case (c, "ts") if df.schema(c).dataType == LongType => c
    }.foldLeft(df)((d, c) => d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)")))
  }

  /** Normalize the events `ts` column to session-zone `timestamp`
    * regardless of its physical encoding in the file:
    *
    *  - `long` — legacy TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    [[graft.GraftSession.tuned]]; Spark's vectorized reader rejects
    *    NANOS otherwise). Integer-divide to micros — a double division
    *    would lose precision at ~1.7e18 ns.
    *  - `timestamp_ntz` — TIMESTAMP(MICROS, isAdjustedToUTC=false),
    *    what pandas/pyarrow write and Spark 4 infers as NTZ. Cast to
    *    `timestamp`: with the session zone pinned to UTC
    *    (GraftSession.tuned) the wall-clock values are preserved
    *    exactly, matching DuckDB's naive read of the same file.
    *  - `timestamp` — already the contract type; pass through.
    */
  def adaptEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other — expected long (nanos), timestamp_ntz or timestamp")
    }
  }

  /** S2: variable/domain projection — read only the requested columns;
    * Catalyst `ColumnPruning` pushes this into the Parquet scan
    * (reference `tools.py:72-79` selects MAT variables after a full load).
    */
  def loadColumns(spark: SparkSession, dir: String, name: String, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    load(spark, dir, name).select(cols.map(col): _*)
  }

  /** S1 (corpus interchange): JSON-Lines reader — the de-facto wire
    * format of LLM corpus pipelines (one JSON document per line,
    * gzip-splittable into per-file tasks). Schema is REQUIRED: schema
    * inference reads the whole corpus TWICE at 100 TB; with an
    * explicit schema the scan is single-pass and malformed lines land
    * in `_corrupt_record` (PERMISSIVE) instead of failing the job —
    * count that column to monitor feed health, filter it to quarantine
    * bad lines (Spark refuses corrupt-column-ONLY queries over raw
    * JSON — select data columns alongside it, or cache() first).
    * Multiline JSON is deliberately NOT enabled: a multiline file is
    * one unsplittable task.
    */
  def loadJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  // ---------------------------------------------------------------
  // S1 (.mat fidelity): the reference's native input — per-class `x`
  // feature cells and `r` permutation cells in a MATLAB v5 file, read
  // through the graft-mat DataSource V2 (graft.sources.mat).
  // ---------------------------------------------------------------

  /** The `x` variable as [[graft.dfw.PreProcess]] samples:
    * `(db, descriptor, cls, sample_id, features)`. `sample_id` is the
    * 0-based row index within the class cell — the identity the
    * permutation values select (reference `preprocess.py:53`).
    */
  def matSamples(spark: SparkSession, path: String,
                 db: String = "default", descriptor: String = "default"): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("graft-mat").option("vars", "x").load(path)
      .select(lit(db).as("db"), lit(descriptor).as("descriptor"), col("cls"),
        col("row_idx").cast("long").as("sample_id"), col("vals").as("features"))
  }

  /** The `r` variable as [[graft.dfw.PreProcess]] permutations:
    * `(db, descriptor, cls, trial, pos, sample_id)` — trial = the cell
    * matrix row, pos = 0-based position in the stored order, sample_id
    * = the stored sample index with the reference's MATLAB 1-based
    * normalization applied per (class, trial)
    * (`preprocess.py:423-424`, [[graft.dfw.PermOps.normalizeIndices]]).
    */
  def matPermutations(spark: SparkSession, path: String,
                      db: String = "default", descriptor: String = "default"): DataFrame = {
    import org.apache.spark.sql.functions._
    val exploded = spark.read.format("graft-mat").option("vars", "r").load(path)
      .select(lit(db).as("db"), lit(descriptor).as("descriptor"), col("cls"),
        col("row_idx").as("trial"), posexplode(col("vals")).as(Seq("pos", "sid")))
      .select(col("db"), col("descriptor"), col("cls"), col("trial"),
        col("pos").cast("long").as("pos"), col("sid").cast("long").as("sample_id"))
    graft.dfw.PermOps.normalizeIndices(exploded,
      Seq("db", "descriptor", "cls", "trial"), "sample_id")
  }
}
