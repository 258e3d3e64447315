package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One `items` row (the reference's Postgres source table) plus the
  * change sequence number that orders changes within a batch.
  */
final case class Item(id: Int, name: String, description: String, price: Int,
                      onOffer: Boolean, seq: Long)

/** One change event: the row's after-image (before-image for a delete). */
final case class Change(item: Item, deleted: Boolean) {
  /** Debezium envelope, unwrapped by ExtractNewRecordState in rewrite mode. */
  def envelope: String = {
    val i = item
    s"""{"schema":"items","payload":{"id":${i.id},"name":"${i.name}",""" +
      s""""description":"${i.description}","price":${i.price},""" +
      s""""on_offer":${i.onOffer},"__deleted":"$deleted"}}"""
  }
}

/** One generated micro-batch: its changes in order, and the malformed
  * envelopes injected into it.
  */
final case class Batch(index: Int, changes: Seq[Change], malformed: Seq[String]) {
  /** The batch as a text file: one `<seq>\t<envelope>` line per message. */
  def lines: Seq[String] =
    changes.map(c => s"${c.item.seq}\t${c.envelope}") ++
      malformed.zipWithIndex.map { case (m, k) => s"${-1 - k}\t$m" }
  def payloadBytes: Long = changes.map(_.envelope.length.toLong).sum
}

/** Seeded generator of the `items` change stream.
  *
  * The mix is insert:update:delete = 2:2:1, the reference's Locust profile
  * (POST 2, PUT 2, DELETE 1). Updates and deletes pick recent ids more
  * often than old ones, and one in five reuses a key already changed in the
  * same batch, so dedup-to-latest has work to do. Every `malformedEvery`-th
  * batch carries one malformed envelope. The generator also folds the
  * stream itself, so [[live]] is the expected table state: the reference
  * the engine's result is checked against.
  */
final class ItemsGen(seed: Long, preloadRows: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val state = mutable.HashMap.empty[Int, Item]
  private var nextId = 1
  private var nextSeq = 1L
  private var batches = 0
  /** Injected malformed envelopes so far. */
  var malformedInjected = 0L

  private def row(id: Int): Item = Item(id,
    name = s"Item $id-${rnd.nextInt(1000000)}",
    description = s"Description for category ${rnd.nextInt(ItemsGen.Descriptions)}",
    price = 100 + rnd.nextInt(99900),
    onOffer = rnd.nextInt(4) == 0,
    seq = 0L)

  /** The preload snapshot, ids 1..preloadRows. */
  val preload: Seq[Item] = (1 to preloadRows).map { id =>
    val it = row(id)
    state(id) = it
    it
  }
  nextId = preloadRows + 1

  /** Current expected state. */
  def live: Iterable[Item] = state.values
  def liveMap: scala.collection.Map[Int, Item] = state

  /** A live id, skewed towards the most recent inserts. */
  private def recentLive(): Int = {
    var tries = 0
    while (tries < 64) {
      val u = rnd.nextDouble()
      val id = nextId - 1 - ((nextId - 1) * u * u * u).toInt
      if (state.contains(id)) return id
      tries += 1
    }
    state.keysIterator.next()
  }

  private val malformedKinds = Seq("empty", "{not json", """{"schema":"items"}""", "")

  def nextBatch(size: Int, malformedEvery: Int): Batch = {
    val touched = mutable.ArrayBuffer.empty[Int]
    val changes = (0 until size).map { _ =>
      val r = rnd.nextInt(5)
      val seq = nextSeq
      nextSeq += 1
      if (r < 2 || state.size < 2) {
        val it = row(nextId).copy(seq = seq)
        nextId += 1
        state(it.id) = it
        touched += it.id
        Change(it, deleted = false)
      } else {
        val id =
          if (touched.nonEmpty && rnd.nextInt(5) == 0) {
            val t = touched(rnd.nextInt(touched.size))
            if (state.contains(t)) t else recentLive()
          } else recentLive()
        touched += id
        if (r < 4) {
          val old = state(id)
          val it = old.copy(price = 100 + rnd.nextInt(99900),
            onOffer = rnd.nextInt(4) == 0, seq = seq)
          state(id) = it
          Change(it, deleted = false)
        } else {
          val it = state.remove(id).get.copy(seq = seq)
          Change(it, deleted = true)
        }
      }
    }
    val malformed =
      if (batches % malformedEvery == malformedEvery - 1)
        Seq(malformedKinds(rnd.nextInt(malformedKinds.size)))
      else Nil
    malformedInjected += malformed.size
    batches += 1
    Batch(batches - 1, changes, malformed)
  }
}

object ItemsGen {
  /** Description categories, so descriptions repeat as the reference's do. */
  val Descriptions = 64

  /** Write a batch as one text file with a fixed modification time, so the
    * file source orders batches by index whatever the clock does.
    */
  def writeBatch(dir: Path, b: Batch, baseMillis: Long): Path = {
    val p = dir.resolve(f"batch-${b.index}%06d.txt")
    Files.write(p, b.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(baseMillis + b.index * 1000L))
    p
  }
}
