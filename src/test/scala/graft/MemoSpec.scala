package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // every test keys on a dir of its own, so no entry leaks between tests
  private def withDataDir(body: String => Unit): Unit = {
    val dir = TempDirs.create("graft_memo").toString
    try { writeDocs(dir, 3); body(dir) }
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
  private def writeDocs(dir: String, rows: Int): Unit =
    (0L until rows).toDF("doc_id").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  test("compute-once: concurrent callers of one key run f once") {
    withDataDir { dir =>
      val calls = new AtomicInteger
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      try {
        val results = (1 to 4).map { _ =>
          pool.submit(new Callable[AnyRef] {
            def call(): AnyRef = {
              start.await()
              Memo.value(dir, "once") {
                calls.incrementAndGet()
                Thread.sleep(100) // hold the window a two-step races in
                new Object
              }
            }
          })
        }
        start.countDown()
        val got = results.map(_.get(60, TimeUnit.SECONDS))
        assert(calls.get == 1)
        assert(got.forall(_ eq got.head))
      } finally pool.shutdownNow()
    }
  }

  test("reentrant: a memo call inside another key's f works") {
    // the ivfpq-index → pq codebook shape: the outer value computes an
    // inner one it is built on, and the inner entry is then cached
    withDataDir { dir =>
      val outer = Memo.value(dir, "outer") {
        Memo.value(dir, "inner")("codebook") + "+index"
      }
      assert(outer == "codebook+index")
      assert(Memo.value[String](dir, "inner")(fail("recomputed")) == "codebook")
      val f = Memo.frame(spark, dir, "outer-frame") {
        Memo.frame(spark, dir, "inner-frame")(spark.range(3).toDF("id"))
          .filter($"id" > 0)
      }
      assert(f.count() == 2)
    }
  }

  test("a throw is not cached: the next caller computes again") {
    withDataDir { dir =>
      val calls = new AtomicInteger
      val e = intercept[IllegalStateException] {
        Memo.value[String](dir, "boom") {
          calls.incrementAndGet()
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(Memo.value(dir, "boom") { calls.incrementAndGet(); "ok" } == "ok")
      assert(Memo.value[String](dir, "boom")(fail("recomputed")) == "ok")
      assert(calls.get == 2)
    }
  }

  test("scopes: a new session gets a fresh frame and the same value") {
    withDataDir { dir =>
      val other = spark.newSession()
      val f1 = Memo.frame(spark, dir, "scoped")(spark.range(1).toDF("id"))
      assert(Memo.frame(spark, dir, "scoped")(fail("recomputed")) eq f1)
      val f2 = Memo.frame(other, dir, "scoped")(other.range(2).toDF("id"))
      assert(!(f2 eq f1))
      assert(f2.sparkSession eq other)
      assert(f2.count() == 2)
      assert(Memo.frame(other, dir, "scoped")(fail("recomputed")) eq f2)

      val v = Memo.value(dir, "scoped")(Array(spark.range(3).count()))
      assert(Memo.value(dir, "scoped")(Array(other.range(5).count())) eq v)
    }
  }

  test("version keying: rewriting the dir's parquet in place recomputes") {
    withDataDir { dir =>
      val v = Tables.version(dir)
      val calls = new AtomicInteger
      def rows() = Memo.value(dir, "rows") {
        calls.incrementAndGet()
        Array(Tables(spark, dir, "documents").count())
      }
      assert(rows().toSeq == Seq(3L))
      assert(rows().toSeq == Seq(3L) && calls.get == 1)
      writeDocs(dir, 5)
      assert(Tables.version(dir) != v)
      assert(rows().toSeq == Seq(5L))
      assert(calls.get == 2)
    }
  }
}
