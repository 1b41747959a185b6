package perfbench

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.ingest.Decisions

/** Seeded Decision records for the ingest and streaming workloads.
  *
  * Each record is generated as typed values first and rendered to the
  * 36 raw CSV strings the reference's dumps carry, so the generator
  * knows the 40-column parsed row the program must land for it without
  * running any of the program's code: arrays render as JSON, as a bare
  * word (singleton fallback), empty (null) or malformed `[bad`
  * (singleton); timestamps are valid or `bogus` (null); booleans are
  * Yes/no/dunno; platform_uid is `snowflake-entity-user` or `oneword`.
  * Only the field table (names, kinds, output column order) comes from
  * the program. created_at rises by one second per generated record,
  * so every uuid's versions are strictly ordered and the last-write
  * winner is simply its newest record. */
object DecisionGen {
  import Decisions.{A, B, C, P, S, T, U}

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val DiscordEpochMs = 1420070400000L
  private val Words = Array("view", "click", "spam", "hate", "scam", "nudity", "violence",
    "fraud", "bot", "raid", "leak", "doxx")

  final case class Rec(raw: Array[String], parsed: Array[Any]) {
    def uuid: String = raw(0)
  }

  def fmt(epochS: Long): String =
    LocalDateTime.ofInstant(Instant.ofEpochSecond(epochS), ZoneOffset.UTC).format(Fmt)

  /** One record with the given uuid ("" = missing) and created_at. */
  def record(rng: SplittableRandom, uuid: String, createdAtS: Long): Rec = {
    val raw = Array.newBuilder[String]
    val out = Array.newBuilder[Any]
    def both(r: String, p: Any): Unit = { raw += r; out += p }
    def word() = Words(rng.nextInt(Words.length))
    Decisions.Fields.foreach { case (name, kind) => kind match {
      case U => both(uuid, uuid)
      case S =>
        val v = if (name == "decision_facts" && rng.nextInt(4) == 0)
          s"""facts ${rng.nextInt(1000)}, quoted "${word()}""""
        else s"${name}_${rng.nextInt(7)}"
        both(v, v)
      case A => rng.nextInt(4) match {
        case 0 => val (a, b) = (word(), word()); both(s"""["$a","$b"]""", s"$a|$b")
        case 1 => val w = word(); both(w, w)
        case 2 => both("", null)
        case _ => both("[bad", "[bad")
      }
      case T =>
        if (rng.nextInt(11) == 0) both("bogus", null)
        else { val s = fmt(1704067200L + rng.nextLong(31536000L)); both(s, s) }
      case B => rng.nextInt(3) match {
        case 0 => both("Yes", true)
        case 1 => both("no", false)
        case _ => both("dunno", null)
      }
      case P =>
        if (rng.nextInt(13) == 0) { raw += "oneword"; out ++= Seq("oneword", null, null, null) }
        else {
          val ms = DiscordEpochMs + rng.nextLong(300000000000L)
          val snowflake = ((ms - DiscordEpochMs) << 22) | rng.nextInt(1 << 22).toLong
          val entity = rng.nextInt(1000000).toString
          val v = s"$snowflake-$entity-user"
          raw += v; out ++= Seq(v, ms, entity, "user")
        }
      case C => val s = fmt(createdAtS); both(s, s)
    }}
    out += null // incompatible_content_illegal: never parsed, typed null
    Rec(raw.result(), out.result())
  }

  /** Records for `groups` consecutive groups (days or staged files) of
    * `perGroup` records. About 1% have no uuid; about `recurShare` of
    * the rest reuse a uuid from an earlier group. */
  def groups(seed: Long, groups: Int, perGroup: Int, recurShare: Double,
             t0S: Long): IndexedSeq[IndexedSeq[Rec]] = {
    val rng = new SplittableRandom(seed)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    var t = t0S
    (0 until groups).map { g =>
      val fresh = scala.collection.mutable.ArrayBuffer[String]()
      val recs = (0 until perGroup).map { i =>
        val u =
          if (rng.nextInt(100) == 0) ""
          else if (seen.nonEmpty && rng.nextDouble() < recurShare) seen(rng.nextInt(seen.size))
          else { val f = s"s$seed-g$g-r$i"; fresh += f; f }
        t += 1
        record(rng, u, t)
      }
      seen ++= fresh
      recs
    }
  }

  /** The last-write winners among `recs`: one per non-empty uuid, its
    * newest record. */
  def winners(recs: Iterable[Rec]): Iterable[Array[Any]] =
    recs.filter(_.uuid.nonEmpty).groupBy(_.uuid).values
      .map(_.maxBy(r => r.raw(Decisions.FieldNames.indexOf("created_at"))).parsed)

  /** Order-insensitive content digest of a set of rows: the row count
    * and the wrapping sum of each row's 64-bit md5 prefix. */
  def digest(rows: Iterable[Array[Any]]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val s = r.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001")
      val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    (n, sum)
  }

  /** Derby table for the 40 output columns, and the MERGE cast type of
    * each column in output order. */
  val columnTypes: Seq[String] = Decisions.OutCols.map {
    case "uuid" | "entity_id" | "entity_type" => "VARCHAR(64)"
    case "automated_detection" | "incompatible_content_illegal" => "BOOLEAN"
    case "snowflake_ms" => "BIGINT"
    case _ => "VARCHAR(200)"
  }

  def ddl(table: String): String =
    s"CREATE TABLE $table (" + Decisions.OutCols.zip(columnTypes).map {
      case ("uuid", t) => s"uuid $t PRIMARY KEY"
      case (c, t) => s"$c $t"
    }.mkString(", ") + ")"

  private def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** CSV text of `recs` with the header in `order` (indices into the
    * field table). */
  def csv(recs: Seq[Rec], order: Seq[Int]): Array[Byte] = {
    val sb = new StringBuilder(order.map(Decisions.FieldNames).mkString(","))
    sb.append('\n')
    recs.foreach { r => sb.append(order.map(i => quote(r.raw(i))).mkString(",")); sb.append('\n') }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Write one day's dump as the reference names it. Every third dump
    * is a nested zip whose CSV lists the columns in reverse order. */
  def writeDump(path: String, day: String, dayIndex: Int, recs: Seq[Rec]): Unit = {
    val n = Decisions.FieldNames.size
    val z = new ZipOutputStream(new FileOutputStream(path))
    try {
      if (dayIndex % 3 == 2) {
        val inner = new ByteArrayOutputStream()
        val nz = new ZipOutputStream(inner)
        nz.putNextEntry(new ZipEntry(s"$day.csv"))
        nz.write(csv(recs, (0 until n).reverse))
        nz.closeEntry(); nz.close()
        z.putNextEntry(new ZipEntry(s"$day-inner.zip"))
        z.write(inner.toByteArray)
      } else {
        z.putNextEntry(new ZipEntry(s"$day.csv"))
        z.write(csv(recs, 0 until n))
      }
      z.closeEntry()
    } finally z.close()
  }
}
