package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A wrong output is a failed op, never a timed success. */
class FailureSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: Path = _

  override def beforeAll(): Unit = {
    spark = graft.GraftSession.local(2, "perfbench-test")
    spark.sparkContext.setLogLevel("WARN")
    work = Files.createTempDirectory("perfbench-failure")
  }

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  private val tiny = PageGen.Params(
    perDay = Map("prospects" -> 10, "sequences" -> 5, "mailings" -> 5),
    backfillDays = 4, dailyDays = 2)

  test("a corrupted sync output fails its op") {
    val wl = new SyncBackfill(work.resolve("backfill"), 5, tiny)
    wl.prepare(spark)
    val r = new Runner(spark, traced = false)
    val ops = wl.round(0)
    ops.foreach(r.runOp)
    assert(ops.forall(o => o.error.isEmpty && o.seconds > 0))

    // drop one committed partition file of the first resource
    val table = Sync.table(work.resolve("backfill/out/round0"), Sync.Resources.head)
    val s = Files.walk(table)
    val victim = try s.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    Files.delete(victim)

    wl.check(spark, ops)
    assert(ops.head.failed, "the corrupted table must be reported")
    assert(ops.head.wrong.get.contains("partitions differ"))
    assert(ops.tail.forall(!_.failed))
  }

  test("a daily sync that does not walk its day's whole cursor chain fails") {
    val daily = PageGen.Params(
      perDay = Map("prospects" -> 120, "sequences" -> 110, "mailings" -> 101),
      backfillDays = 1, dailyDays = 2)
    val wl = new SyncDaily(work.resolve("daily"), 3, daily)
    wl.prepare(spark)
    try {
      val r = new Runner(spark, traced = false)
      val ops = wl.round(0)
      ops.foreach(r.runOp)
      wl.check(spark, ops)
      assert(ops.forall(!_.failed), ops.flatMap(_.wrong).mkString("; "))
      // one page read, or the scheduled 500 not met, is a wrong walk
      val day = PageGen.Today0
            Sync.Resources.foreach { res =>
        val retries = if (res == ApiServer.FailingResource) 1.0 else 0.0
        assert(wl.walkError(res, day, 2, retries).isEmpty)
        assert(wl.walkError(res, day, 1, retries).get.contains("walked 1.0 pages"))
        assert(wl.walkError(res, day, 2, 1 - retries).isDefined)
      }
    } finally wl.cleanup()
  }

  test("a query whose digest does not match its pin fails its op") {
    val data = Path.of("data/sf0.01").toAbsolutePath.toString
    val right = Digest.of(graft.SparkEntry.queries("q1_agg")(spark, data))
    def runWith(pin: String): Op = {
      val wl = new QueryMix("q", Seq("q1_agg"), data, Map("q1_agg" -> pin), 1)
      wl.prepare(spark)
      val r = new Runner(spark, traced = false)
      val ops = wl.round(1)
      ops.foreach(r.runOp)
      wl.check(spark, ops)
      ops.head
    }
    assert(!runWith(right).failed)
    val corrupted = right.dropRight(1) + (if (right.last == '0') "1" else "0")
    val op = runWith(corrupted)
    assert(op.failed && op.error.isEmpty && op.seconds > 0)
    assert(op.wrong.get.contains("pinned"))
    // a wrong row count is caught by the op itself, in every round
    val rows = right.takeWhile(_ != ':').toLong
    val miscounted = runWith(s"${rows + 1}:${right.dropWhile(_ != ':').drop(1)}")
    assert(miscounted.failed && miscounted.wrong.get.contains(s"counted $rows rows"))
  }
}
