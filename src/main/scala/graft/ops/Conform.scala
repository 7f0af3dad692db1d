package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-conformance operators — the reference's declared-schema pipeline
  * (reference: etl_tools.py:37-61, outreach_etl.py:105-107,215-216)
  * re-expressed as narrow, codegen-friendly Spark projections.
  *
  * All of these are single narrow projections: at 100 TB they pipeline
  * inside one whole-stage-codegen span over the scan, no shuffle.
  */
object Conform {

  /** Cast every column that appears in `schema` to its declared type;
    * columns absent from the input are seeded as typed NULLs so the
    * output always carries the full declared column set
    * (reference: create_dF_from_schema etl_tools.py:37-43 +
    * update_dF_dtypes_from_schema etl_tools.py:45-61, applied late at
    * outreach_etl.py:215).
    *
    * `strict = true` (default) keeps ONLY declared columns — the
    * deterministic, oracle-friendly mode; `strict = false` carries
    * undeclared columns through untyped, matching the reference's
    * schema-drift tolerance (SURVEY.md §7.4).
    */
  def castFromSchema(df: DataFrame, schema: StructType,
                     strict: Boolean = true): DataFrame = {
    val present = df.columns.toSet
    val declared = schema.fields.map { f =>
      if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val extras =
      if (strict) Array.empty[org.apache.spark.sql.Column]
      else df.columns.filterNot(schema.fieldNames.contains).map(col)
    df.select((declared ++ extras).toSeq: _*)
  }

  /** Bulk rename: replace `target` anywhere in every column name
    * (reference: outreach_etl.py:216 — pandas str.replace replaces
    * mid-name occurrences too, not only the prefix; we match that).
    * Pure metadata operation: free at any scale.
    */
  def renameReplace(df: DataFrame, target: String,
                    replacement: String = ""): DataFrame =
    df.toDF(df.columns.map(_.replace(target, replacement)).toSeq: _*)

  /** Vertical union by column name, missing columns → NULL, duplicates
    * kept (reference: pd.concat at outreach_etl.py:154,183,212).
    * Union is a no-shuffle narrow op in Spark: partitions of the
    * inputs are simply concatenated, so accumulating N page-frames is
    * O(N) planning and zero data movement — unlike the reference's
    * O(pages²) repeated pd.concat copying.
    */
  def unionAccumulate(pages: Seq[DataFrame]): DataFrame =
    pages.reduceLeft(_.unionByName(_, allowMissingColumns = true))
}
