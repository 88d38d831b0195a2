package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneId}
import java.util.zip.CRC32

import scala.collection.mutable

import graft.pipelines.Pipelines.Cf

/** Seeded ClickUp-shaped source for the sync workload (FIXTURES.md §A).
  *
  * Holds the "API side": spaces, folders and lists (some folder-less),
  * tasks, accounts, apps and about two years of time entries that evolve
  * as the clock advances (new entries every day, edits and deletions
  * inside the refresh window). It writes what a fetch would return as raw
  * JSON for the pipelines to ingest, and keeps a model of the warehouse
  * the pipelines should produce, so every sync and every downstream read
  * can be checked by row count and an order-independent checksum.
  *
  * The time entries carry the FIXTURES edge cases: duplicate ids with a
  * later `at`, starts that span an Oslo DST switch, an empty email, a
  * non-numeric duration, and missing `task` / `user` / `task_location`
  * objects.
  */
final class ClickUp(seed: Long, val entriesPerDay: Int, val historyDays: Int) {
  import ClickUp._

  private val rng = new scala.util.Random(seed)
  val today0: LocalDate = LocalDate.parse("2025-06-02")

  final case class ListRow(id: String, name: String, spaceId: String,
                           spaceName: String, folderId: String, folderName: String)
  final case class TaskRow(id: String, list: ListRow, estimateMs: Option[Long],
                           rawEstimate: String)
  /** One version of a time entry as the API returns it. */
  final case class Entry(id: String, startMs: Long, durationMs: Long,
                         rawDuration: String, atMs: Long, billable: Boolean,
                         task: Option[TaskRow], user: Option[Int],
                         hasLocation: Boolean) {
    def osloDate: LocalDate = Instant.ofEpochMilli(startMs).atZone(Oslo).toLocalDate
  }

  private val spaces = (0 until 3).map(i => (s"9001$i", s"Space $i"))
  private val folders = for (s <- spaces.indices; f <- 0 until 2)
    yield (s"9015$s$f", s"Folder $s.$f", spaces(s))
  val lists: IndexedSeq[ListRow] =
    (for ((fid, fname, (sid, sname)) <- folders; l <- 0 until 4)
      yield ListRow(s"${fid}0$l", s"List $fname/$l", sid, sname, fid, fname)) ++
    (for (((sid, sname), s) <- spaces.zipWithIndex; l <- 0 until 2)
      yield ListRow(s"9016$s$l", s"Loose list $s/$l", sid, sname, "", ""))
  val tasks: IndexedSeq[TaskRow] = (0 until 240).map { k =>
    val est = rng.nextInt(20) match {
      case 0 => (None, "")
      case 1 => (None, "0")
      case 2 => (None, "n/a")
      case _ => val ms = (1 + rng.nextInt(32)) * 900000L; (Some(ms), ms.toString)
    }
    TaskRow(s"t$k", lists(rng.nextInt(lists.size)), est._1, est._2)
  }
  private val users = (0 until 12).map { u =>
    (u, s"user$u", if (u == 3) "" else s"user$u@example.com")
  }

  /** Current API state: latest version per id (deleted ids removed). */
  private val source = mutable.LinkedHashMap.empty[String, Entry]
  /** Older versions the feed still returns next to the latest (dedup D1). */
  private val shadows = mutable.Map.empty[String, Entry]
  private var nextId = 0L
  private var clock: LocalDate = today0.minusDays(historyDays.toLong)

  private def newEntry(day: LocalDate): Entry = {
    nextId += 1
    val id = (4216543200000000000L + nextId * 7919L).toString
    val dst = rng.nextInt(200) == 0
    val startMs =
      if (dst) {
        // 00:30 UTC on the nearest EU DST switch: the entry spans it
        val sw = dstSwitches.minBy(d => math.abs(d.toEpochDay - day.toEpochDay))
        sw.atStartOfDay(Utc).toInstant.toEpochMilli + 30 * 60000L
      } else day.atTime(7 + rng.nextInt(10), rng.nextInt(60))
        .atZone(Oslo).toInstant.toEpochMilli
    val dur = (1 + rng.nextInt(16)) * 900000L
    val rawDur = if (rng.nextInt(50) == 0) "abc" else dur.toString
    val miss = rng.nextInt(50)
    Entry(id, startMs, dur, rawDur, startMs + dur + 60000L, rng.nextBoolean(),
      if (miss == 0) None else Some(tasks(rng.nextInt(tasks.size))),
      if (miss == 1) None else Some(rng.nextInt(users.size)),
      hasLocation = miss != 2)
  }

  /** Move the API clock to `day`: entries for every new day appear; inside
    * the last `window` days some entries are edited (new duration, later
    * `at`) and some are deleted. */
  def advance(day: LocalDate, window: Int): Unit = {
    while (!clock.isAfter(day)) {
      for (_ <- 0 until rng.nextInt(2 * entriesPerDay + 1)) {
        val e = newEntry(clock)
        source(e.id) = e
        if (rng.nextInt(50) == 0)
          shadows(e.id) = e.copy(atMs = e.atMs - 3600000L,
            durationMs = e.durationMs + 900000L,
            rawDuration = (e.durationMs + 900000L).toString)
      }
      clock = clock.plusDays(1)
    }
    val lo = day.minusDays(window.toLong)
    val recent = source.values.filter(e => !e.osloDate.isBefore(lo)).toVector
    for (e <- recent) rng.nextInt(100) match {
      case 0 | 1 | 2 =>
        val d = (1 + rng.nextInt(16)) * 900000L
        source(e.id) = e.copy(durationMs = d, rawDuration = d.toString,
          atMs = e.atMs + 86400000L)
      case 3 => source.remove(e.id); shadows.remove(e.id)
      case _ =>
    }
  }

  /** What the API returns for entries started in [lo, hi] (Oslo days),
    * duplicate shadows included. */
  def fetch(lo: LocalDate, hi: LocalDate): Vector[Entry] = {
    def in(e: Entry) = !e.osloDate.isBefore(lo) && !e.osloDate.isAfter(hi)
    source.values.filter(in).toVector ++
      shadows.values.filter(e => in(e) && source.contains(e.id))
  }

  def entryJson(e: Entry): String = {
    val sb = new StringBuilder("{")
    sb ++= s""""id":"${e.id}","start":"${e.startMs}","end":"${e.startMs + e.durationMs}","""
    sb ++= s""""duration":"${e.rawDuration}","at":"${e.atMs}","billable":${e.billable},"""
    sb ++= s""""description":"work ${e.id.takeRight(4)}","source":"clickup","""
    sb ++= """"is_locked":false,"approval_id":null,"""
    e.task.foreach { t =>
      sb ++= s""""task_url":"https://app.clickup.com/t/${t.id}","""
      sb ++= s""""task":{"id":"${t.id}","name":"Task ${t.id}","custom_type":null,"custom_id":null,"""
      sb ++= s""""status":{"status":"in progress","color":"#5f55ee","type":"custom","orderindex":"1"}},"""
    }
    e.user.foreach { u =>
      val (_, name, email) = users(u)
      sb ++= s""""user":{"id":"5542476$u","username":"$name","email":"$email","""
      sb ++= s""""color":"#ff0000","initials":"U$u","profilePicture":""},"""
    }
    if (e.hasLocation) e.task.foreach { t =>
      sb ++= s""""task_location":{"list_id":"${t.list.id}","folder_id":"${t.list.folderId}","space_id":"${t.list.spaceId}"},"""
    }
    sb.setLength(sb.length - 1)
    sb ++= "}"
    sb.toString
  }

  /** Writes the dimension sources (spaces, folders, lists, tasks, accounts,
    * apps); returns the bytes written. */
  def writeDims(dir: Path): Long = {
    def task(id: String, name: String, item: Int, extra: String, l: ListRow,
             cf: Seq[String]) =
      s"""{"id":"$id","name":"$name","url":"https://app.clickup.com/t/$id","archived":false,""" +
        s""""custom_item_id":$item,$extra"status":{"status":"open","type":"open"},""" +
        s""""date_created":"1704067200000","assignees":[{"username":"user1"},{"username":"user2"}],""" +
        s""""custom_fields":[${cf.mkString(",")}],"space_id":"${l.spaceId}","space_name":"${l.spaceName}",""" +
        s""""folder_id":"${l.folderId}","folder_name":"${l.folderName}","list_id":"${l.id}","list_name":"${l.name}"}"""
    val sp = spaces.map { case (id, n) => s"""{"id":"$id","name":"$n","archived":false}""" }
    val fo = folders.map { case (id, n, (sid, _)) =>
      s"""{"id":"$id","name":"$n","space_id":"$sid","archived":false}""" }
    val li = lists.map(l =>
      s"""{"id":"${l.id}","name":"${l.name}","space_id":"${l.spaceId}","folder_id":"${l.folderId}","archived":false}""")
    val ta = tasks.map(t => task(t.id, s"Task ${t.id}", 0,
      if (t.rawEstimate.isEmpty) "" else s""""time_estimate":"${t.rawEstimate}",""", t.list, Nil))
    val ac = (0 until 30).map { a =>
      val conn = if (a % 7 == 0) "" else
        (0 until 1 + a % 3).map(i => lists((a + i) % lists.size).id).mkString("", ", ", ", ")
      task(s"acc$a", s"Account $a", 1001, "", lists(a % lists.size), Seq(
        s"""{"id":"${Cf.connected}","value":"$conn"}""",
        s"""{"id":"${Cf.hoursDiscount}","value":"${a % 4 * 5}"}""",
        s"""{"id":"${Cf.arr}","value":"${10000 * (a + 1)}"}"""))
    }
    val ap = (0 until 40).map { p =>
      task(s"app$p", s"App $p", if (p % 5 == 4) 1006 else 1005, "",
        lists(p % lists.size), Seq(
          s"""{"id":"${Cf.arr}","value":"${5000 * (p + 1)}"}""",
          s"""{"id":"${Cf.lastUpdated}","value":"1717426800000"}""",
          s"""{"id":"${Cf.maintenance}","value":"${p % 2 == 0}"}""",
          s"""{"id":"${Cf.accountsRel}","value_rel":[{"id":"acc${p % 30}"}]}"""))
    }
    Seq("spaces" -> sp, "folders" -> fo, "lists" -> li, "tasks" -> ta,
      "accounts" -> ac, "apps" -> ap).map { case (n, rows) =>
      writeLines(dir.resolve(n), rows)
    }.sum
  }

  /** Writes a fetch as the `time_entries` source under `dir`. */
  def writeEntries(dir: Path, entries: Seq[Entry]): Long =
    writeLines(dir.resolve("time_entries"), entries.map(entryJson))

  /** Expected `fact_time_entries`, keyed by id. */
  val fact = mutable.Map.empty[String, Entry]

  private def latest(fetched: Seq[Entry]): Map[String, Entry] =
    fetched.groupBy(_.id).map { case (id, vs) => id -> vs.maxBy(_.atMs) }

  def modelFullReindex(fetched: Seq[Entry]): Unit = {
    fact.clear()
    fact ++= latest(fetched)
  }

  def modelRefresh(fetched: Seq[Entry], lo: LocalDate, hi: LocalDate): Unit = {
    val staging = latest(fetched)
    def inW(e: Entry) = !e.osloDate.isBefore(lo) && !e.osloDate.isAfter(hi)
    fact.filterInPlace { case (id, e) => !staging.contains(id) && !inW(e) }
    fact ++= staging.filter { case (_, e) => inW(e) }
  }

  private def dur(e: Entry): Option[Long] =
    if (e.rawDuration == "abc") None else Some(e.durationMs)
  private def taskId(e: Entry) = e.task.map(_.id)
  private def listId(e: Entry) = if (e.hasLocation) e.task.map(_.list.id) else None

  /** Fact checksum over (id, duration_ms, start_date_oslo, task_id,
    * user_id, list_id); see [[Checks.factChecksum]]. */
  def factChecksum: Checksum = Checksum.of(fact.values.map { e =>
    Seq(e.id, dur(e).fold("")(_.toString), e.osloDate.toString,
      taskId(e).getOrElse(""), e.user.fold("")(u => s"5542476$u"),
      listId(e).getOrElse(""))
  })

  def hoursPerList: Checksum = {
    val byList = lists.map(l => l.id -> l).toMap
    Checksum.of(fact.values.groupBy(listId).collect {
      case (Some(id), es) if byList.contains(id) =>
        val l = byList(id)
        val ds = es.flatMap(dur)
        Seq(id, l.name, l.spaceName, if (ds.isEmpty) "" else ds.sum.toString,
          es.size.toString)
    })
  }

  def estimateVsActual: Checksum = {
    val byTask = fact.values.groupBy(taskId)
    Checksum.of(tasks.flatMap { t =>
      byTask.get(Some(t.id)).map { es =>
        val ds = es.flatMap(dur)
        Seq(t.id, t.estimateMs.fold("")(ms => (ms / 36000L).toString),
          if (ds.isEmpty) "" else ds.sum.toString)
      }
    })
  }

  def userCounts: Checksum = Checksum.of(fact.values.groupBy(_.user).map {
    case (u, es) =>
      Seq(u.fold("")(i => s"5542476$i"), es.size.toString,
        es.count(_.billable).toString, es.flatMap(taskId).toSet.size.toString)
  })
}

/** Row count plus a sum of per-row CRC32s of '|'-joined fields: equal for
  * equal multisets of rows, whatever their order. */
final case class Checksum(rows: Long, sum: Long) {
  override def toString: String = s"$rows rows / crc $sum"
}

object Checksum {
  def of(rows: Iterable[Seq[String]]): Checksum = {
    var n = 0L
    var s = 0L
    rows.foreach { r =>
      val c = new CRC32
      c.update(r.mkString("|").getBytes(StandardCharsets.UTF_8))
      n += 1
      s += c.getValue
    }
    Checksum(n, s)
  }
}

object ClickUp {
  val Oslo: ZoneId = ZoneId.of("Europe/Oslo")
  val Utc: ZoneId = ZoneId.of("UTC")
  private val dstSwitches = Seq("2023-10-29", "2024-03-31", "2024-10-27",
    "2025-03-30").map(LocalDate.parse)

  private def writeLines(dir: Path, rows: Seq[String]): Long = {
    Files.createDirectories(dir)
    val bytes = rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(dir.resolve("part-0.json"), bytes)
    bytes.length.toLong
  }
}
