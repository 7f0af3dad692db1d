package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable

/** Seeded JSON:API page generator for the three resources the
  * reference syncs, and the expected-result oracle computed from the
  * same records in plain Scala.
  *
  * Records follow the declared field sets in `graft/schemas/<resource>.json`,
  * re-nested the way `Flatten` takes them apart: `a_b` becomes a nested
  * object, `a_0` a positional list element, `a_0_1` a list of lists,
  * and `relationships_x_data` is either null or an `{id, type}` object.
  * The same seed gives byte-identical files: the only randomness is a
  * SplitMix64 stream per (seed, resource), and every number is printed
  * from integers.
  */
object PageGen {

  /** The backfill's "today": a full sync keeps days before it, and
    * `previous_day` syncs walk the days from it on.
    */
  val Today0: LocalDate = LocalDate.of(2024, 1, 1)
  val StartDate: LocalDate = LocalDate.of(2019, 1, 1)

  /** Records a page: the reference's page size. */
  val PerPage = 100
  /** Every `DupEvery`-th record of a day (after the first day) is a
    * later version of an id first seen on an earlier day.
    */
  private val DupEvery = 4
  /** Share of declared optional fields present in a record. */
  private val FieldShare = 0.35
  /** Size of each of mailings' two body fields, which ingest drops. */
  private val BodyBytes = 1500

  final case class Params(
      // records per resource per day: a fixed count, so that no seed
      // changes the amount of work
      perDay: Map[String, Int],
      // days before Today0 that the backfill window keeps
      backfillDays: Int,
      // days from Today0 on: outside the backfill window, synced by the
      // daily workload
      dailyDays: Int)

  final case class Rec(id: Long, updatedUs: Long, json: String)

  final case class Resource(name: String, records: IndexedSeq[Rec],
                            pages: Int, bytes: Long)

  /** JSON:API `type` of a resource's records. */
  def typeOf(resource: String): String = resource.stripSuffix("s")

  private def schemaFields(resource: String): Seq[(String, String)] = {
    val in = getClass.getResourceAsStream(s"/graft/schemas/$resource.json")
    require(in != null, s"no schema for $resource")
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    """"([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toSeq
  }

  /** Field tree rebuilt from the flat column names. */
  final class Node {
    val children = mutable.LinkedHashMap.empty[String, Node]
    var leaf: Option[String] = None
    def isList: Boolean = children.nonEmpty && children.keys.forall(_.forall(_.isDigit))
  }

  def tree(resource: String): Node = {
    val root = new Node
    schemaFields(resource).foreach { case (name, t) =>
      val n = name.split('_').foldLeft(root)((n, seg) =>
        n.children.getOrElseUpdate(seg, new Node))
      n.leaf = Some(t)
    }
    root
  }

  final class Rng(seed: Long) {
    private var s = seed
    def long(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def int(n: Int): Int = java.lang.Math.floorMod(long(), n.toLong).toInt
    def chance(p: Double): Boolean = int(1000000) < (p * 1000000).toInt
  }

  private val Words = Vector("alpha", "bravo", "cedar", "delta", "ember",
    "fjord", "garnet", "harbor", "indigo", "juniper", "kestrel", "lumen",
    "maple", "nimbus", "onyx", "prairie", "quartz", "river", "sierra",
    "tundra", "umber", "velvet", "willow", "xenon", "yarrow", "zephyr")

  private def isoMicros(us: Long): String = {
    val i = Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)
    val base = i.atOffset(ZoneOffset.UTC).toLocalDateTime.withNano(0).toString
    // LocalDateTime drops ":00" seconds; keep a fixed width
    val secs = if (base.length == 16) base + ":00" else base
    f"$secs.${Math.floorMod(us, 1000000L)}%06dZ"
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c => sb += c
    }
    sb += '"'
  }

  private def value(sb: StringBuilder, t: String, rng: Rng, dayLo: Long,
                    dayHi: Long): Unit = t match {
    case "string" =>
      quote(sb, s"${Words(rng.int(Words.length))}-${rng.int(100000)}")
    case "integer" => sb ++= rng.int(5000).toString
    case "float" =>
      val c = rng.int(100000)
      sb ++= s"${c / 100}.${"%02d".format(c % 100)}"
    case "boolean" => sb ++= (if (rng.chance(0.5)) "true" else "false")
    case "datetime" =>
      val day = dayLo + rng.int((dayHi - dayLo + 1).toInt)
      quote(sb, isoMicros(day * 86400000000L + rng.int(86400) * 1000000L))
    case other => sys.error(s"unknown schema type $other")
  }

  /** One record's JSON. `id`, `type` and `attributes.updatedAt` are
    * always present; other declared fields appear with `FieldShare`.
    */
  def record(resource: String, root: Node, id: Long, updatedUs: Long,
             p: Params, rng: Rng): String = {
    val sb = new StringBuilder(2048)
    val dayLo = Today0.toEpochDay - p.backfillDays
    val dayHi = Today0.toEpochDay + p.dailyDays - 1
    def obj(n: Node, path: String): Unit = {
      sb += '{'
      var first = true
      n.children.foreach { case (k, c) =>
        val full = if (path.isEmpty) k else s"${path}_$k"
        val always = full == "id" || full == "type" || full == "attributes" ||
          full == "attributes_updatedAt" || full == "relationships" ||
          full == "links"
        if (always || rng.chance(FieldShare)) {
          if (!first) sb += ','
          first = false
          quote(sb, k)
          sb += ':'
          emit(c, full)
        }
      }
      sb += '}'
    }
    def emit(n: Node, path: String): Unit = path match {
      case "id" => sb ++= id.toString
      case "type" => quote(sb, typeOf(resource))
      case "attributes_updatedAt" => quote(sb, isoMicros(updatedUs))
      case "attributes_bodyHtml" | "attributes_bodyText" =>
        val body = new StringBuilder(BodyBytes + 16)
        while (body.length < BodyBytes) {
          body ++= Words(rng.int(Words.length))
          body += ' '
        }
        quote(sb, body.toString)
      case _ if n.isList =>
        val len = 1 + rng.int(n.children.size)
        sb += '['
        n.children.values.take(len).zipWithIndex.foreach { case (c, i) =>
          if (i > 0) sb += ','
          emit(c, s"${path}_$i")
        }
        sb += ']'
      case _ if n.children.nonEmpty && n.leaf.isDefined && rng.chance(0.3) =>
        sb ++= "null"
      case _ if n.children.nonEmpty => obj(n, path)
      case _ => value(sb, n.leaf.get, rng, dayLo, dayHi)
    }
    obj(root, "")
    sb.toString
  }

  /** Records of one resource, in page order: `perDay` records on each
    * day, none of them two versions of one id, shuffled into pages.
    */
  def records(resource: String, seed: Long, p: Params): IndexedSeq[Rec] = {
    val rng = new Rng(seed * 1000003L + resource.hashCode)
    val root = tree(resource)
    val dayLo = Today0.toEpochDay - p.backfillDays
    val ids = mutable.ArrayBuffer.empty[Long]
    val recs = (0 until p.backfillDays + p.dailyDays).flatMap { d =>
      val earlier = ids.length
      val reused = mutable.HashSet.empty[Long]
      (0 until p.perDay(resource)).map { j =>
        var id = 0L
        if (j % DupEvery == DupEvery - 1 && reused.size < earlier) {
          // a later version of an id from an earlier day, at most one
          // per id per day, so each day's latest rows are all its records
          do id = ids(rng.int(earlier)) while (reused.contains(id))
          reused += id
        } else {
          id = 1000L + ids.length * 7L + rng.int(7)
          ids += id
        }
        val us = (dayLo + d) * 86400000000L + rng.int(86400) * 1000000L +
          rng.int(1000) * 1000L
        Rec(id, us, record(resource, root, id, us, p, rng))
      }
    }.toArray
    for (i <- recs.indices.reverse) {
      val j = rng.int(i + 1)
      val t = recs(i); recs(i) = recs(j); recs(j) = t
    }
    recs.toIndexedSeq
  }

  /** Pages a reader walks for one day of a resource. */
  def pagesPerDay(resource: String, p: Params): Int =
    (p.perDay(resource) + PerPage - 1) / PerPage

  /** One page envelope over `recs`. */
  def page(resource: String, recs: Seq[Rec], count: Int, next: Option[String]): String = {
    val sb = new StringBuilder(recs.map(_.json.length + 2).sum + 256)
    sb ++= "{\"data\":["
    recs.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= r.json
    }
    sb ++= s"""],"meta":{"count":$count},"links":{"""
    next.foreach { u => sb ++= "\"next\":"; quote(sb, u) }
    sb ++= "}}\n"
    sb.toString
  }

  /** Write one resource's pages under `dir/resource/`. */
  def writePages(dir: Path, resource: String, recs: IndexedSeq[Rec]): Resource = {
    val out = Files.createDirectories(dir.resolve(resource))
    val groups = recs.grouped(PerPage).toIndexedSeq
    var bytes = 0L
    groups.zipWithIndex.foreach { case (g, i) =>
      val next = if (i + 1 < groups.length)
        Some(s"https://api.example.invalid/api/v2/$resource?page%5Bnumber%5D=${i + 2}")
      else None
      val b = page(resource, g, recs.length, next).getBytes(StandardCharsets.UTF_8)
      bytes += b.length
      Files.write(out.resolve(f"page${i + 1}%05d.json"), b)
    }
    Resource(resource, recs, groups.length, bytes)
  }

  // ---- oracle ----------------------------------------------------------

  /** Per-row digest term of (id, updatedAt µs); summed per partition
    * it is order-independent.
    */
  def term(id: Long, us: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L ^ us
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    z ^ (z >>> 33)
  }

  final case class Part(rows: Long, digest: Long)

  def ds(us: Long): String =
    LocalDate.ofEpochDay(Math.floorDiv(us, 86400000000L)).toString

  /** The committed table a sync over `[lo, hi]` (days, inclusive) must
    * leave: the window is applied first, then the latest version of
    * each id is kept, partitioned by the day of its `updatedAt`.
    */
  def expected(recs: Seq[Rec], lo: LocalDate, hi: LocalDate): Map[String, Part] = {
    val loUs = lo.toEpochDay * 86400000000L
    val hiUs = (hi.toEpochDay + 1) * 86400000000L - 1
    val latest = mutable.HashMap.empty[Long, Long]
    recs.foreach { r =>
      if (r.updatedUs >= loUs && r.updatedUs <= hiUs &&
          latest.get(r.id).forall(_ < r.updatedUs))
        latest(r.id) = r.updatedUs
    }
    summarize(latest.toSeq.map { case (id, us) => (id, us, ds(us)) })
  }

  /** Per-`ds` row count and digest of committed (id, µs, ds) rows. */
  def summarize(rows: Iterable[(Long, Long, String)]): Map[String, Part] =
    rows.groupBy(_._3).map { case (d, rs) =>
      d -> Part(rs.size.toLong, rs.foldLeft(0L)((a, r) => a + term(r._1, r._2)))
    }
}
