package graft

import graft.core.Cols
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic interval tables derived from the driver's TPC-H-ish
  * parquet (TESTDATA.md), used by SparkEntry.queries, with the exact-
  * equivalent DuckDB CTE text for the oracle side. All derivations use
  * integer arithmetic + floor only, so Spark and DuckDB agree bit-for-bit.
  */
object Tables {
  import Cols._

  def pq(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `ts` normalized to an epoch-nanos BIGINT across fixture vintages:
    * older events fixtures wrote parquet TIMESTAMP(NANOS), which scans as
    * a nanos long under spark.sql.legacy.parquet.nanosAsLong; current
    * fixtures write timestamp[us], which scans as TIMESTAMP_NTZ (or
    * TIMESTAMP). Pure column rewrite, so it works on batch and streaming
    * DataFrames alike; the harness session tz is UTC, making the NTZ→TZ
    * cast the identity on the epoch value — bit-exact with DuckDB's
    * epoch_ms/epoch_ns on the same file. */
  def tsNanos(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => df
    case _ =>
      df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
  }

  /** "Reads": one interval per lineitem row.
    * row_id is unique: (l_orderkey, l_linenumber, l_partkey, l_suppkey)
    * is a key of lineitem; multipliers keep the packing collision-free
    * for every shipped scale factor. */
  def gr(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem").select(
      ((((col("l_orderkey") * 8 + col("l_linenumber")) * 16777216L)
        + col("l_partkey")) * 16384L + col("l_suppkey")).as(RowId),
      col("l_returnflag").as(Chrom),
      when(col("l_linestatus") === "O", "+").otherwise("-").as(Strand),
      col("l_orderkey").as(Start),
      (col("l_orderkey") + floor(col("l_quantity")).cast("long") + 1).as(End))

  val GR_CTE: String =
    """gr AS (SELECT ((l_orderkey*8 + l_linenumber)*16777216 + l_partkey)*16384 + l_suppkey AS row_id, l_returnflag AS chrom, CASE WHEN l_linestatus='O' THEN '+' ELSE '-' END AS strand, l_orderkey AS istart, l_orderkey + CAST(floor(l_quantity) AS BIGINT) + 1 AS iend FROM lineitem)"""

  /** "Annotations": one interval per order, chromosome domain mapped onto
    * gr's {A, N, R}. */
  def gr2(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "orders").select(
      col("o_orderkey").as(RowId),
      when(col("o_orderstatus") === "F", "A")
        .when(col("o_orderstatus") === "O", "N").otherwise("R").as(Chrom),
      when(col("o_orderkey") % 2 === 0, "+").otherwise("-").as(Strand),
      col("o_orderkey").as(Start),
      (col("o_orderkey") + floor(col("o_totalprice")).cast("long") % 50 + 1).as(End))

  /** Sparse subset of gr — used where dense data would make the op
    * degenerate (complement gaps, max-disjoint). */
  def grSparse(s: SparkSession, dir: String): DataFrame =
    gr(s, dir).filter(col(RowId) % 37 === 0)

  val GRS_CTE: String = "grs AS (SELECT * FROM gr WHERE row_id % 37 = 0)"

  val GR2_CTE: String =
    """gr2 AS (SELECT o_orderkey AS row_id, CASE o_orderstatus WHEN 'F' THEN 'A' WHEN 'O' THEN 'N' ELSE 'R' END AS chrom, CASE WHEN o_orderkey%2=0 THEN '+' ELSE '-' END AS strand, o_orderkey AS istart, o_orderkey + CAST(floor(o_totalprice) AS BIGINT)%50 + 1 AS iend FROM orders)"""

  /** Sparse subset of gr2 — keeps overlap-invert / subtract non-trivial. */
  def gr2Sparse(s: SparkSession, dir: String): DataFrame =
    gr2(s, dir).filter(col(RowId) % 23 === 0)

  val GR2S_CTE: String = "gr2s AS (SELECT * FROM gr2 WHERE row_id % 23 = 0)"

  /** DuckDB CTE computing the merged islands of a table `src` per
    * `keyCols` (comma-joined column list) as `name(keyCols, istart, iend, n)`
    * — the window-sweep merge, mirroring UnaryOps.merge. Both windows
    * order by (istart, iend, rn), with `rn` one row_number() computed
    * once per partition: ordered by (istart, iend) alone, the two windows
    * may order exact duplicates differently and split an island. */
  def mergeCte(name: String, src: String, keyCols: String,
               slack: Long = 0): String = {
    val k = keyCols
    s"""$name AS (SELECT $k, min(istart) AS istart, max(iend) AS iend, count(*) AS n FROM (SELECT $k, istart, iend, sum(nf) OVER (PARTITION BY $k ORDER BY istart, iend, rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl FROM (SELECT $k, istart, iend, rn, CASE WHEN pm IS NULL OR istart >= pm + $slack THEN 1 ELSE 0 END AS nf FROM (SELECT $k, istart, iend, rn, max(iend) OVER (PARTITION BY $k ORDER BY istart, iend, rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM (SELECT $k, istart, iend, row_number() OVER (PARTITION BY $k ORDER BY istart, iend) AS rn FROM $src)))) GROUP BY $k, cl)"""
  }

  /** Strand-aware 5'->3' cumsum CTE (mirror of UnaryOps.groupCumsum with
    * row_id tie-break): adds cst/cen (cumulative start/end) to `src`. */
  def cumCte(name: String, src: String, partCols: String): String =
    s"""$name AS (SELECT * EXCLUDE (cs), CAST(cs - (iend - istart) AS BIGINT) AS cst, CAST(cs AS BIGINT) AS cen FROM (SELECT *, sum(iend - istart) OVER (PARTITION BY $partCols ORDER BY CASE WHEN strand='-' THEN -iend ELSE istart END, CASE WHEN strand='-' THEN -istart ELSE iend END, row_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs FROM $src))"""

  def sql(ctes: Seq[String], body: String): String =
    s"WITH ${ctes.mkString(", ")} $body"

  /** Rename library loc columns to the lowercase names used in oracle SQL
    * (DuckDB-reserved-word-safe, case-insensitive-safe). */
  def out(df: DataFrame): DataFrame =
    Seq(Chrom -> "chrom", Start -> "istart", End -> "iend", Strand -> "strand")
      .foldLeft(df) { case (d, (a, b)) =>
        if (d.columns.contains(a)) d.withColumnRenamed(a, b) else d }
}
