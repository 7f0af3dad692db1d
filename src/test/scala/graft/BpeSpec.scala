package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bpe

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("wordDict: lowercase, alpha-only, char-split, frequency-summed") {
    val df = Seq("Low low LOW lower x9 ab").toDF("text")
    val m = Bpe.wordDict(df, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("l o w" -> 3L, "l o w e r" -> 1L, "a b" -> 1L))
  }

  test("applyMerge: greedy left-to-right, overlap-safe, boundary-safe") {
    val df = Seq("a a a", "a b a b a b", "x a b", "aa b a", "b a").toDF("sym")
    val out = df.select(Bpe.applyMerge(col("sym"), "a", "b").as("m"))
      .as[String].collect().toSeq
    // "a a a" untouched (pair is (a,b)); alternating run fully merged;
    // "aa b" NOT merged (symbol boundary); "b a" is the reversed pair
    assert(out == Seq("a a a", "ab ab ab", "x ab", "aa b a", "b a"))
    val aa = df.select(Bpe.applyMerge(col("sym"), "a", "a").as("m"))
      .as[String].collect().toSeq
    // odd run merges left-to-right non-overlapping: [aa, a]
    assert(aa.head == "aa a")
  }

  test("train-once memo is version-keyed: rewriting a dir's parquet " +
      "in place retrains instead of serving stale merges") {
    import java.nio.file.Files
    val dir = TempDirs.create("graft_ver").toString
    def write(texts: Seq[String]): Unit = {
      val tmp = s"$dir/__tmp"
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(tmp)
      // move into the flat documents.parquet file layout Tables reads
      // (close the directory stream — Files.list leaks a handle
      // otherwise, the bug class Tables.version guards against)
      val part = scala.util.Using.resource(
        Files.list(java.nio.file.Paths.get(tmp))) { s =>
        s.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      }
      Files.move(part, java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    write(Seq("aa aa ab", "aa aa ab"))
    val v1 = Tables.version(dir)
    assert(v1 == Tables.version(dir), "version must be call-stable")
    val m1 = graft.queries.TextQueries.bpeMerges(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(m1.exists(r => r(1) == "a" && r(2) == "a"))
    // regenerate IN PLACE with a different corpus: the version must
    // move and the memo must retrain (pre-r8 the dir-only key would
    // serve the old (a,a)-first merges)
    write(Seq("xy xy xy zz", "xy xy zz"))
    assert(Tables.version(dir) != v1,
      "dir fingerprint must change when the parquet is rewritten")
    val m2 = graft.queries.TextQueries.bpeMerges(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(m2.exists(r => r(1) == "x" && r(2) == "y"), m2.toString)
    assert(!m2.exists(r => r(1) == "a" && r(2) == "a"), m2.toString)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("train: textbook merge order with deterministic ties") {
    // dict {aa:2, ab:1}: pair (a,a) wins rank 1 with n=2, then the
    // re-symbolized dict {"aa":2, "a b":1} leaves only (a,b); after
    // that the pair set is exhausted and training stops early
    val docs = Seq("aa aa ab").toDF("text")
    val merges = Bpe.train(Bpe.wordDict(docs, "text"), nMerges = 5)
    assert(merges == Seq(
      Bpe.Merge(1, "a", "a", 2L), Bpe.Merge(2, "a", "b", 1L)))
  }

  test("encodeTokenCounts: fixed merge list, rank order, greedy, " +
    "zero-word docs preserved") {
    val docs = Seq(
      (1L, "aa aa ab"),
      (2L, "b aa"),
      (3L, "42 !!"), // no alpha words at all
      (4L, "Abba")).toDF("doc_id", "text")
    val merges =
      Seq(Bpe.Merge(1, "a", "b", 9L), Bpe.Merge(2, "ab", "b", 5L))
    val out = Bpe.encodeTokenCounts(docs, "text", "doc_id", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc1: aa->[a,a] (no (a,b) pair), ab->[ab]      = 3 words, 5 tok
    // doc2: b->[b], aa->[a,a]                        = 2 words, 3 tok
    // doc3: nothing                                  = 0 words, 0 tok
    // doc4: abba: "a b b a" -(a,b)-> "ab b a"
    //       -(ab,b)-> "abb a"                        = 1 word,  2 tok
    assert(out == Seq((1L, 3L, 5L), (2L, 2L, 3L), (3L, 0L, 0L),
      (4L, 1L, 2L)))
  }

  test("encodeTokenCounts: trained merges re-encode the training " +
    "corpus to one token per dict word") {
    val docs = Seq((1L, "aa aa ab"), (2L, "b aa")).toDF("doc_id", "text")
    // dict {aa:3, ab:1, b:1} trains (a,a) then (a,b); every dict word
    // is then a single symbol, so encoding collapses each word fully
    val merges = Bpe.train(Bpe.wordDict(docs, "text"), nMerges = 8)
    val out = Bpe.encodeTokenCounts(docs, "text", "doc_id", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((3L, 3L), (2L, 2L)))
  }

  test("encodeTokenCounts: empty merge list counts characters") {
    val docs = Seq((1L, "abc de")).toDF("doc_id", "text")
    val out = Bpe.encodeTokenCounts(docs, "text", "doc_id", Seq.empty)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(out == ((2L, 5L)))
  }

  test("train: max pair count is non-increasing across merges") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog the fox the dog",
      "lower lowest newest newer wide widest widely the new the old")
      .toDF("text")
    val merges = Bpe.train(Bpe.wordDict(docs, "text"), nMerges = 6)
    assert(merges.size == 6)
    assert(merges.map(_.rank) == (1 to 6))
    val ns = merges.map(_.n)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }
}
