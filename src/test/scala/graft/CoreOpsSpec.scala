package graft

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Conform, Flatten, Incremental}

/** The suite's one shared session: the production shape from
  * [[GraftSession.local]], extensions included. The warehouse dir is a
  * fresh temp dir per test run (`Test / javaOptions` in build.sbt).
  */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
}

class CoreOpsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // Nested fixture covering every flatten branch (FIXTURES.md A.2):
  // dict-in-dict, list of scalars, list-of-list, null scalar.
  private val nestedJson =
    """{"id": 42,
        "attributes": {"firstName": "Ada", "clickCount": 3,
          "emails": ["a@x.com", "b@x.com"],
          "contactHistogram": [["2019-05-01", "2"], ["2019-05-02", "0"]],
          "title": null},
        "relationships": {"account": {"data": {"id": 7}}}}"""

  test("flatten: struct → a_b, list → a_i, list-of-list → a_i_j") {
    val df = spark.read.json(Seq(nestedJson).toDS)
    val flat = Flatten.flatten(df, defaultArity = 2)
    val row = flat.collect()(0)
    val cols = flat.columns.toSet
    assert(cols.contains("attributes_firstName"))
    assert(cols.contains("attributes_emails_0"))
    assert(cols.contains("attributes_emails_1"))
    assert(cols.contains("attributes_contactHistogram_0_1"))
    assert(cols.contains("relationships_account_data_id"))
    assert(row.getAs[String]("attributes_emails_1") == "b@x.com")
    assert(row.getAs[String]("attributes_contactHistogram_0_1") == "2")
    assert(row.getAs[Long]("relationships_account_data_id") == 7L)
  }

  test("flatten: out-of-arity list elements become NULL") {
    val df = spark.read.json(Seq("""{"xs": [1]}""").toDS)
    val flat = Flatten.flatten(df, defaultArity = 3)
    val row = flat.collect()(0)
    assert(row.getAs[Long]("xs_0") == 1L)
    assert(row.isNullAt(row.fieldIndex("xs_1")))
    assert(row.isNullAt(row.fieldIndex("xs_2")))
  }

  test("castFromSchema seeds missing declared columns as typed NULLs") {
    val df = Seq(("1", "x")).toDF("a", "b")
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("c", TimestampType)))
    val out = Conform.castFromSchema(df, schema)
    assert(out.columns.toSeq == Seq("a", "c"))
    assert(out.schema("a").dataType == LongType)
    assert(out.schema("c").dataType == TimestampType)
    assert(out.collect()(0).getAs[Long]("a") == 1L)
    assert(out.collect()(0).isNullAt(1))
  }

  test("castFromSchema permissive mode carries undeclared columns") {
    val df = Seq(("1", "x")).toDF("a", "b")
    val schema = StructType(Seq(StructField("a", LongType)))
    val out = Conform.castFromSchema(df, schema, strict = false)
    assert(out.columns.toSeq == Seq("a", "b"))
  }

  test("renameReplace matches pandas str.replace anywhere-in-name semantics") {
    val df = Seq((1, 2)).toDF("attributes_x", "y_attributes_z")
    val out = Conform.renameReplace(df, "attributes_")
    assert(out.columns.toSeq == Seq("x", "y_z"))
  }

  test("unionAccumulate: missing columns ride as NULL, duplicates kept") {
    val p1 = Seq((1L, "a")).toDF("id", "name")
    val p2 = Seq((1L, 0.5)).toDF("id", "score")
    val out = Conform.unionAccumulate(Seq(p1, p2))
    assert(out.columns.sorted.toSeq == Seq("id", "name", "score"))
    assert(out.count() == 2)
  }

  test("replicationWindow: full and previous_day (outreach_etl.py:223-229)") {
    val today = LocalDate.of(2026, 8, 12)
    val start = LocalDate.of(2026, 1, 1)
    assert(Incremental.replicationWindow("full", start, today) ==
      ((start, today.minusDays(1))))
    assert(Incremental.replicationWindow("previous_day", start, today) ==
      ((today.minusDays(1), today.minusDays(1))))
    intercept[IllegalArgumentException] {
      Incremental.replicationWindow("hourly", start, today)
    }
  }

  test("dedupLatest keeps exactly one newest row per key") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 10L),
      (1L, "2024-01-02 00:00:00", 11L),
      (2L, "2024-01-01 00:00:00", 12L),
      (2L, "2024-01-01 00:00:00", 13L) // ts tie → tieBreak on id
    ).toDF("k", "ts_s", "id").withColumn("ts", to_timestamp(col("ts_s")))
    val out = Incremental.dedupLatest(df, Seq("k"), "ts", Seq("id"))
      .orderBy("k").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("id") == 11L)
    assert(out(1).getAs[Long]("id") == 13L)
  }

  test("smoke: entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract: no silent query-name collisions, oracles resolve") {
    // SparkEntry.queries is four maps ++'d together — a duplicate name
    // across files would silently DROP one query from the driver's
    // correctness surface; assert pairwise disjointness
    val families = Seq(
      "ReferenceQueries" -> queries.ReferenceQueries.queries.keySet,
      "ScaleQueries" -> queries.ScaleQueries.queries.keySet,
      "TextQueries" -> queries.TextQueries.queries.keySet,
      "AdvancedQueries" -> queries.AdvancedQueries.queries.keySet)
    for (Seq((na, a), (nb, b)) <- families.combinations(2)) {
      val overlap = a.intersect(b)
      assert(overlap.isEmpty, s"$na and $nb both register: $overlap")
    }
    // every oracle must point at a registered query (a typo'd key
    // would demote the query to rows-only without any visible failure)
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("joinDelta: maintained view equals the full-join recompute row-for-row") {
    import spark.implicits._
    // keys 1-4 exercise all products: old⋈old (in V_old, NOT in the
    // delta), Δa⋈old, old⋈Δb, Δa⋈Δb; key 5 is delta-only on one side
    val aOld = Seq((1L, "ao1"), (2L, "ao2"), (3L, "ao3")).toDF("k", "av")
    val aNew = Seq((2L, "an2"), (4L, "an4"), (5L, "an5")).toDF("k", "av")
    val bOld = Seq((1L, "bo1"), (2L, "bo2"), (4L, "bo4")).toDF("k", "bv")
    val bNew = Seq((3L, "bn3"), (2L, "bn2")).toDF("k", "bv")
    val delta = Incremental.joinDelta(aOld, aNew, bOld, bNew, Seq("k"))
    val maintained = aOld.join(bOld, Seq("k")).unionByName(delta)
    val full = aOld.unionByName(aNew).join(bOld.unionByName(bNew), Seq("k"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sorted.toSeq
    assert(rows(maintained) == rows(full))
    // and the delta really is disjoint from V_old (no double rows)
    assert(maintained.count() == full.count())
  }
}
