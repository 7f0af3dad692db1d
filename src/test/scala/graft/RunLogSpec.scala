package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.RunLog
import graft.ops.RunLog.RunEvent

class RunLogSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("syncEvents: reference grammar, bounded event count") {
    val ev = RunLog.syncEvents("r1", "prospects", n = 2500, pageSize = 1000)
    assert(ev.map(_.message) == Seq(
      "Number of prospects is 2500",
      "Completed Page 1 out of 3",
      "Completed Page 3 out of 3",
      "Completed BigQuery Upload"))
    // O(1) events regardless of page count
    assert(RunLog.syncEvents("r1", "mailings", n = 10000000).size == 4)
    assert(RunLog.syncEvents("r1", "sequences", n = 0).map(_.message) ==
      Seq("There are no sequences"))
  }

  test("page math: exact boundaries") {
    def pages(n: Long) = RunLog.syncEvents("r", "x", n)
      .find(_.message.startsWith("Completed Page 1 "))
      .map(_.message.split(" ").last.toLong)
    assert(pages(1).contains(1L))
    assert(pages(1000).contains(1L))
    assert(pages(1001).contains(2L))
  }

  test("append sink + read round-trip preserves events") {
    val dir = TempDirs.create("runlog").toString
    val path = s"$dir/log"
    RunLog.appendTo(spark, path, RunLog.syncEvents("r1", "prospects", 500))
    RunLog.appendTo(spark, path, RunLog.syncEvents("r2", "mailings", 0))
    val back = RunLog.read(spark, path).collect().toSeq
      .sortBy(e => (e.runId, e.seq))
    assert(back.size == 5)
    assert(back.count(_.runId == "r1") == 4)
    assert(back.last.message == "There are no mailings")
  }

  test("renderLogText: level - message lines in run/seq order") {
    val txt = RunLog.renderLogText(Seq(
      RunEvent("r1", 1, "INFO", "x", "b"),
      RunEvent("r1", 0, "INFO", "x", "a"),
      RunEvent("r0", 0, "ERROR", "x", "There was an API error.")))
    assert(txt == "ERROR - There was an API error.\nINFO - a\nINFO - b\n")
  }

  test("renderEmail: deterministic multipart MIME with attachment") {
    val msg = RunLog.renderEmail(
      sender = "etl@example.com", to = "ops@example.com",
      subject = "Outreach ETL Log", bodyText = "Run complete.",
      attachmentName = "log-outreach-script.log",
      attachmentText = "INFO - Completed BigQuery Upload\n")
    assert(msg.contains("To: ops@example.com\r\n"))
    assert(msg.contains("Subject: Outreach ETL Log\r\n"))
    assert(msg.contains("Content-Type: multipart/mixed; boundary="))
    assert(msg.contains(
      "Content-Disposition: attachment; filename=\"log-outreach-script.log\""))
    assert(msg.contains("Completed BigQuery Upload"))
    // exactly two parts: body + attachment, terminated boundary
    assert("--graft-mime-boundary\r\n".r.findAllIn(msg).size == 2)
    assert(msg.endsWith("--graft-mime-boundary--\r\n"))
    // deterministic: same inputs, same bytes
    assert(msg == RunLog.renderEmail("etl@example.com", "ops@example.com",
      "Outreach ETL Log", "Run complete.", "log-outreach-script.log",
      "INFO - Completed BigQuery Upload\n"))
  }

  test("gmailRawPayload: urlsafe base64 round-trips") {
    val msg = "subject é\r\nbody+/=?"
    val raw = RunLog.gmailRawPayload(msg)
    assert(!raw.contains("+") && !raw.contains("/"))
    val back = new String(java.util.Base64.getUrlDecoder.decode(raw),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(back == msg)
  }

  test("boundary collision is rejected, not silently corrupted") {
    intercept[IllegalArgumentException] {
      RunLog.renderEmail("a@x", "b@x", "s",
        "body containing --graft-mime-boundary marker",
        "f.log", "text", boundary = "graft-mime-boundary")
    }
  }
}
