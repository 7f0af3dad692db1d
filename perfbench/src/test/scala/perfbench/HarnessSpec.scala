package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JsonApiFlatten

class HarnessSpec extends AnyFunSuite {

  private val tiny = PageGen.Params(
    perDay = Map("prospects" -> 20, "sequences" -> 15, "mailings" -> 15),
    backfillDays = 5, dailyDays = 3)

  private def pageBytes(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def generate(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    Sync.Resources.foreach(r =>
      PageGen.writePages(dir, r, PageGen.records(r, seed, tiny)))
    try pageBytes(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the same seed gives byte-identical pages; another seed does not") {
    val a = generate(7)
    assert(a.size == 6)
    assert(a == generate(7))
    val b = generate(8)
    assert(a.keySet == b.keySet)
    assert(a.keys.exists(k => a(k) != b(k)))
  }

  test("every seed gives the same records per day, no id twice in a day") {
    def perDay(seed: Long, r: String): Map[String, Int] = {
      val recs = PageGen.records(r, seed, tiny)
      recs.groupBy(x => PageGen.ds(x.updatedUs)).map { case (d, xs) =>
        assert(xs.map(_.id).distinct.size == xs.size, s"$r $d repeats an id")
        d -> xs.size
      }
    }
    Sync.Resources.foreach { r =>
      val a = perDay(1, r)
      assert(a.size == 8 && a.values.forall(_ == tiny.perDay(r)))
      assert(perDay(2, r) == a)
    }
    assert(PageGen.pagesPerDay("prospects", tiny) == 1)
    assert(PageGen.pagesPerDay("prospects", tiny.copy(perDay = Map("prospects" -> 201))) == 3)
  }

  test("generated records flatten to declared columns only") {
    Sync.Resources.foreach { r =>
      val declared = graft.schema.SchemaRegistry.schemaFor(r).fieldNames.toSet
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      PageGen.records(r, 3, tiny).foreach { rec =>
        val cols = JsonApiFlatten.flatten(mapper.readTree(rec.json)).keySet
        assert(cols.subsetOf(declared), s"$r: ${cols -- declared}")
        assert(cols.contains("attributes_updatedAt") && cols.contains("id"))
      }
    }
  }

  test("the oracle windows first, then keeps each id's latest version") {
    val day = PageGen.Today0.toEpochDay * 86400000000L
    val recs = Seq(
      PageGen.Rec(1, day - 86400000000L, ""), // yesterday
      PageGen.Rec(1, day - 1000L, ""), // later yesterday: wins
      PageGen.Rec(2, day - 86400000000L, ""),
      PageGen.Rec(2, day + 5L, "")) // today: outside the window
    val want = PageGen.expected(recs, PageGen.StartDate, PageGen.Today0.minusDays(1))
    val y = PageGen.Today0.minusDays(1).toString
    assert(want == Map(y -> PageGen.Part(2,
      PageGen.term(1, day - 1000L) + PageGen.term(2, day - 86400000000L))))
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 30.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.percentile == 75.0 && t.samplesBeyond == 10 && t.samples == 40)
    // with too few samples there is no such percentile: median, flagged
    val few = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(few.value == 2.0 && few.percentile == 50.0 && few.samplesBeyond == 1)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of nested and overlapping children") {
    // parent 0..100; children overlap (10..40, 30..50) and one spills past
    // the parent's end (90..120)
    assert(Spans.selfUs((0L, 100L), Seq((10L, 40L), (30L, 50L), (90L, 120L))) == 50L)
    // nested children are not counted twice
    assert(Spans.selfUs((0L, 100L), Seq((10L, 60L), (20L, 30L))) == 50L)
    assert(Spans.selfUs((0L, 100L), Nil) == 100L)
    assert(Spans.unionUs(Seq((5L, 10L), (0L, 3L), (10L, 12L))) == 10L)
  }

  test("a nested span tree gives each level its own self time") {
    val t = new Tracer(enabled = true)
    t("op") { _ => t("build") { _ => Thread.sleep(20) }; Thread.sleep(5) }
    val op = t.spans.find(_.name == "op").get
    val build = t.spans.find(_.name == "build").get
    assert(build.parent == op.id)
    val self = Spans.selfUs((op.startUs, op.endUs), Seq((build.startUs, build.endUs)))
    assert(self == op.durUs - build.durUs)
    assert(self >= 4000L)
  }
}
