package graft.volume

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The region-ontology table (region_ids_ADMBA.csv in the reference:
  * 2,692 rows of Region/RegionAbbr/RegionName/Level/Parent —
  * lookup_test.py:11–14, Screenshots/lookup_test.png). A broadcastable
  * dimension table; the tree lives in the Parent column.
  */
object RegionTable {

  val schema: StructType = StructType(Seq(
    StructField("Region", LongType, nullable = false),
    StructField("RegionAbbr", StringType, nullable = true),
    StructField("RegionName", StringType, nullable = true),
    StructField("Level", IntegerType, nullable = true),
    StructField("Parent", LongType, nullable = true),
  ))

  /** CSV scan with the explicit schema (S6) — no inference pass — held as
    * a driver-local relation: the table is scanned once here, so a lookup
    * on it ([[lookupById]]) folds into a `LocalTableScan` and runs no job.
    * The rows keep the scan's own schema (a file scan reads every column
    * as nullable).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val scan = spark.read.option("header", "true").schema(schema).csv(path)
    spark.createDataFrame(java.util.Arrays.asList(scan.collect(): _*), scan.schema)
  }

  /** Interactive-id lookup (lookup_by_id.py:24–38): input validation +
    * filter + 3-column projection, formatted like the reference REPL.
    */
  def lookupById(regions: DataFrame, input: String): String =
    if (!input.forall(_.isDigit) || input.isEmpty) s"Invalid input: $input"
    else {
      val id = input.toLong
      byId(regions, id).collect()
        .headOption
        .map(r => s"Region $id: ${r.getString(0)} (${r.getString(1)}), level ${r.getInt(2)}")
        .getOrElse(s"Unknown region ID: $id")
    }

  /** The plan behind [[lookupById]]: name, abbreviation and level of `id`. */
  private[graft] def byId(regions: DataFrame, id: Long): DataFrame = {
    // the id rides in a closure, not a literal: the predicate the optimizer
    // compiles to fold the filter into the local table is then the same
    // for every id and compiles once (~6 ms per lookup otherwise)
    val isId: UDF1[java.lang.Long, Boolean] = r => r != null && r == id
    regions.filter(udf(isId, BooleanType)(col("Region")))
      .select(col("RegionName"), col("RegionAbbr"), col("Level"))
  }

  /** Walk the ontology upward from a region to the root: collect the
    * Region → Parent map once (2,692 rows) and follow it on the driver
    * (the tree is ≤ ~13 levels deep).
    */
  def ancestors(regions: DataFrame, id: Long, maxDepth: Int = 20): Seq[Long] = {
    val parentOf = regions.select(col("Region"), col("Parent"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Seq.newBuilder[Long]
    var cur = id
    var depth = 0
    while (parentOf.contains(cur) && parentOf(cur) != 0 && depth < maxDepth) {
      cur = parentOf(cur)
      out += cur
      depth += 1
    }
    out.result()
  }
}
