package graftbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def batches(seed: Long, n: Int): (Path, Seq[Batch]) = {
    val dir = Files.createTempDirectory("graftbench-gen")
    val gen = new ItemsGen(seed, preloadRows = 2000)
    val bs = (0 until n).map(_ => gen.nextBatch(500, malformedEvery = 2))
    bs.foreach(ItemsGen.writeBatch(dir, _, 0L))
    (dir, bs)
  }

  private def bytes(dir: Path): Seq[Seq[Byte]] =
    scala.util.Using.resource(Files.list(dir))(_.toArray.toSeq.map(_.asInstanceOf[Path]))
      .sortBy(_.toString).map(p => Files.readAllBytes(p).toSeq)

  test("the same seed writes byte-identical batch files; another seed differs") {
    val (a, _) = batches(7, 4)
    val (b, _) = batches(7, 4)
    val (c, _) = batches(8, 4)
    assert(bytes(a) == bytes(b))
    assert(bytes(a) != bytes(c))
  }

  test("insert:update:delete is 2:2:1, with repeated keys and malformed envelopes") {
    val (_, bs) = batches(3, 20)
    val cs = bs.flatMap(_.changes)
    val preloaded = (id: Int) => id <= 2000
    val deletes = cs.count(_.deleted).toDouble / cs.size
    val firstSeen = cs.groupBy(_.item.id).map { case (_, v) => v.minBy(_.item.seq) }
    val inserts = firstSeen.count(c => !preloaded(c.item.id)).toDouble / cs.size
    assert(math.abs(inserts - 0.4) < 0.03, inserts)
    assert(math.abs(deletes - 0.2) < 0.03, deletes)
    assert(bs.exists(b => b.changes.map(_.item.id).distinct.size < b.changes.size))
    assert(bs.map(_.malformed.size) == Seq.tabulate(20)(i => if (i % 2 == 1) 1 else 0))
  }

  test("the generator's own fold is the stream applied in order") {
    val gen = new ItemsGen(5, preloadRows = 1000)
    val state = scala.collection.mutable.HashMap.empty[Int, Item]
    gen.preload.foreach(i => state(i.id) = i)
    (0 until 10).foreach { _ =>
      gen.nextBatch(300, malformedEvery = 3).changes.foreach { c =>
        if (c.deleted) state.remove(c.item.id) else state(c.item.id) = c.item
      }
    }
    assert(state.toMap == gen.liveMap.toMap)
  }
}
