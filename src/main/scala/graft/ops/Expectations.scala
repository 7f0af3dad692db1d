package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality expectation suite — the declarative QA layer an ETL
  * sync runs before loading (the reference validates only implicitly,
  * by BigQuery rejecting bad rows at load time; SURVEY §2.9's
  * errors='raise' cast is its whole QA surface). Each expectation is
  * a violation COUNT, not a boolean, so the report says how broken a
  * feed is, and the whole per-table suite evaluates in ONE aggregate
  * over one scan — adding a check adds a conditional-sum column, not
  * a pass over 100 TB. Referential checks are anti-join counts and
  * broadcast when the dimension side is small.
  */
object Expectations {

  /** One column-level expectation: `violations` must be a
    * per-row 0/1 expression (summed into the violation count).
    */
  final case class Check(name: String, column: String, violated: Column)

  def notNull(column: String): Check =
    Check("not_null", column, when(col(column).isNull, 1L).otherwise(0L))

  /** Rows whose value falls outside [lo, hi]. NULLs are not range
    * violations (pair with [[notNull]] to forbid them).
    */
  def between(column: String, lo: Column, hi: Column): Check =
    Check("between", column,
      when(col(column).isNotNull && !col(column).between(lo, hi), 1L)
        .otherwise(0L))

  /** Rows whose value is not one of `values` (NULLs excluded, as in
    * SQL `IN`).
    */
  def inSet(column: String, values: Seq[String]): Check =
    Check("in_set", column,
      when(col(column).isNotNull && !col(column).isin(values: _*), 1L)
        .otherwise(0L))

  /** Evaluate row-level checks plus optional uniqueness checks in a
    * single aggregate: every row-level check becomes one
    * conditional-sum column; each uniqueness check adds a
    * `count - count_distinct` pair in the SAME aggregate. The wide
    * one-row result is then unpivoted to the report shape
    * (tbl, col, expectation, violations, pass) — |checks| rows.
    */
  def evaluate(table: String, df: DataFrame, checks: Seq[Check],
               uniqueCols: Seq[String] = Seq.empty): DataFrame = {
    val rowAggs = checks.zipWithIndex.map { case (c, i) =>
      sum(c.violated).as(s"__c$i")
    }
    // duplicate count = non-null rows minus distinct values: the
    // number of extra rows occupying an already-taken key
    val uniqAggs = uniqueCols.zipWithIndex.map { case (u, i) =>
      (count(col(u)) - count_distinct(col(u))).as(s"__u$i")
    }
    val aggs = rowAggs ++ uniqAggs
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries =
      checks.zipWithIndex.map { case (c, i) =>
        (c.column, c.name, s"__c$i")
      } ++ uniqueCols.zipWithIndex.map { case (u, i) =>
        (u, "unique", s"__u$i")
      }
    // stack(n, lit, lit, col, ...) — a projection, no extra shuffle
    val stackArgs = entries.flatMap { case (column, name, src) =>
      Seq(lit(column), lit(name), col(src))
    }
    wide.select(stack((lit(entries.size) +: stackArgs): _*)
        .as(Seq("col", "expectation", "violations")))
      .select(lit(table).as("tbl"), col("col"), col("expectation"),
        col("violations"), (col("violations") === 0L).as("pass"))
  }

  /** Referential-integrity check: fact rows whose key has no match in
    * the dimension (NULL fact keys are not orphans — they are
    * [[notNull]]'s business). One anti-join, broadcast by Catalyst
    * when `dim` is small; at 100 TB a bloom pre-prune
    * ([[BloomPrune]]) in front keeps the shuffle to candidate misses.
    */
  def fkOrphans(table: String, fact: DataFrame, factKey: String,
                dim: DataFrame, dimKey: String): DataFrame = {
    val orphans = fact.filter(col(factKey).isNotNull)
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_anti")
      .agg(count(lit(1)).as("violations"))
    orphans.select(lit(table).as("tbl"), lit(factKey).as("col"),
      lit("fk").as("expectation"), col("violations"),
      (col("violations") === 0L).as("pass"))
  }
}
