package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** A row image of the `customers` table (`Schemas.rowType`). */
final case class Img(first: String, last: String, email: String)

/** One change event. `tsMs` is the event's creation stamp (`source.ts_ms`). */
final case class Event(id: Long, op: String, lsn: Long, tsMs: Long,
    before: Option[Img], after: Option[Img])

/** How keys are chosen for updates and deletes: Zipf-skewed with exponent
  * `s` over every key created so far, so a backlog spreads over the table. */
final case class Zipf(s: Double)

/** The op mix: `insert` is the share of events that create a new key,
  * `delete` the share of the remaining (key-picked) events that delete a
  * live key; a picked key that is deleted is re-created. `duplicate` is
  * the share of events that re-deliver an earlier event verbatim. */
final case class Mix(insert: Double, delete: Double, duplicate: Double)

/** Seeded Debezium `customers` envelope generator with its own model of
  * the table the events describe. The model is an independent in-memory
  * fold (highest lsn per key wins; a delete leaves no live row) that the
  * benchmark compares against the replica the program builds. */
final class Gen(seed: Long, mix: Mix, skew: Zipf) {
  private val rng = new java.util.SplittableRandom(seed)
  private var nextId = 1L
  private var lsn = 1000L
  // live flag and current image per key; the lsn of the newest event
  private val model = mutable.HashMap.empty[Long, (Long, Boolean, Img)]
  private val recentEvents = new Array[Event](1024)
  private var emitted = 0L
  // running sums of the Zipf weights 1/k^s, grown as keys are created:
  // zipfSums(i) = sum over k <= i + 1, so a draw over n keys needs no rebuild
  private val zipfSums = mutable.ArrayBuffer.empty[Double]

  var inserts, updates, deletes, recreates, duplicates = 0L

  private val firstNames = Array("ann", "bo", "cy", "dee", "eli", "fay",
    "gus", "hal", "ivy", "jo", "kit", "lou", "max", "ned", "ola", "pia")

  private def image(id: Long, l: Long): Img = Img(
    firstNames(rng.nextInt(firstNames.length)), s"ln$id",
    s"u$id.$l@example.com")

  def keysCreated: Long = nextId - 1

  /** The model's live rows, sorted by id. */
  def liveRows: Seq[(Long, Img)] =
    model.iterator.collect { case (k, (_, true, img)) => k -> img }
      .toSeq.sortBy(_._1)

  private def record(e: Event): Event = {
    model.get(e.id) match {
      case Some((l, _, _)) if l >= e.lsn => ()
      case _ => model(e.id) = (e.lsn, e.op != "d", e.after.orNull)
    }
    recentEvents((emitted % recentEvents.length).toInt) = e
    emitted += 1
    e
  }

  private def nextLsn(): Long = { lsn += 1 + rng.nextInt(4); lsn }

  /** A snapshot read (`op = 'r'`) of `n` fresh keys. */
  def snapshot(n: Int, tsMs: Long): Seq[Event] = (0 until n).map { _ =>
    val id = nextId; nextId += 1
    val l = nextLsn()
    record(Event(id, "r", l, tsMs, None, Some(image(id, l))))
  }

  private def zipfRank(n: Int, s: Double): Int = {
    while (zipfSums.size < n)
      zipfSums += zipfSums.lastOption.getOrElse(0.0) +
        1.0 / math.pow(zipfSums.size + 1, s)
    val u = rng.nextDouble() * zipfSums(n - 1)
    // the first rank whose running sum reaches u
    var (lo, hi) = (0, n - 1)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfSums(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def pickKey(): Long = {
    val n = keysCreated.toInt
    // scatter hot ranks over the id range: rank r -> a fixed permutation
    1L + (zipfRank(n, skew.s).toLong * 7919L) % n
  }

  /** The next event, stamped `tsMs`. */
  def next(tsMs: Long): Event = {
    if (emitted > 0 && rng.nextDouble() < mix.duplicate) {
      duplicates += 1
      val back = rng.nextLong(math.min(emitted, recentEvents.length.toLong))
      val e = recentEvents(((emitted - 1 - back) % recentEvents.length).toInt)
      return e
    }
    if (keysCreated == 0 || rng.nextDouble() < mix.insert) {
      inserts += 1
      val id = nextId; nextId += 1
      val l = nextLsn()
      return record(Event(id, "c", l, tsMs, None, Some(image(id, l))))
    }
    val id = pickKey()
    val l = nextLsn()
    model.get(id) match {
      case Some((_, true, img)) if rng.nextDouble() < mix.delete =>
        deletes += 1
        record(Event(id, "d", l, tsMs, Some(img), None))
      case Some((_, true, img)) =>
        updates += 1
        record(Event(id, "u", l, tsMs, Some(img), Some(image(id, l))))
      case _ =>
        recreates += 1
        record(Event(id, "c", l, tsMs, None, Some(image(id, l))))
    }
  }
}

object Gen {
  private def str(s: String): String = "\"" + s + "\""

  private def img(o: Option[Img], id: Long): String = o match {
    case None => "null"
    case Some(i) =>
      s"""{"id":$id,"first_name":${str(i.first)},"last_name":${str(i.last)},"email":${str(i.email)}}"""
  }

  /** The event as one JSON line of the Debezium envelope
    * (`Schemas.envelopeType`). */
  def json(e: Event): String = {
    val snap = if (e.op == "r") "true" else "false"
    s"""{"before":${img(e.before, e.id)},"after":${img(e.after, e.id)},""" +
      s""""source":{"version":"2.4.0","connector":"postgresql","name":"cdc",""" +
      s""""ts_ms":${e.tsMs},"snapshot":"$snap","db":"postgres","schema":"public",""" +
      s""""table":"customers","txId":${e.lsn / 4},"lsn":${e.lsn},"xmin":null},""" +
      s""""op":"${e.op}","ts_ms":${e.tsMs},"transaction":null}"""
  }

  /** Write `events` as the JSON-lines file `dir/name`, atomically: the
    * file appears under its final name only once complete, so a file
    * source listing `dir` never reads it half-written. */
  def writeFile(dir: Path, name: String, events: Seq[Event]): Path = {
    val sb = new StringBuilder
    events.foreach(e => sb.append(json(e)).append('\n'))
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
