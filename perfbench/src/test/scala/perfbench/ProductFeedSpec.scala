package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class ProductFeedSpec extends AnyFunSuite {

  private def files(seed: Long): Seq[Array[Byte]] = {
    val dir = Files.createTempDirectory("feed")
    val feed = new ProductFeed(seed, keys = 1000)
    Cdc.writeSnapshot(feed, dir)
    (0 until 3).foreach(i => feed.writeFile(dir, s"f$i.json", 500))
    (Seq("snapshot.json") ++ (0 until 3).map(i => s"f$i.json")).map(n => Files.readAllBytes(dir.resolve(n)))
  }

  test("the same seed writes byte-identical files, another seed different ones") {
    val a = files(7)
    val b = files(7)
    val c = files(8)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(a.zip(c).forall { case (x, y) => !java.util.Arrays.equals(x, y) })
  }

  private val Id = """"id":(\d+)""".r.unanchored
  private val Op = """"op":"(\w)"""".r.unanchored
  private val Scn = """"scn":(\d+)""".r.unanchored

  test("op mix, key range and scn order follow the spec") {
    val keys = 1000
    val feed = new ProductFeed(3, keys)
    var nextKey = keys.toLong
    var lastScn = feed.snapshotScn
    val ops = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until 100000).foreach { _ =>
      val line = feed.nextEvent()
      val (Id(id), Op(op), Scn(scn)) = (line, line, line)
      ops(op) += 1
      assert(scn.toLong == lastScn + 1, "scn must ascend by one per event")
      lastScn = scn.toLong
      if (op == "c") {
        assert(id.toLong == nextKey, "an insert creates the next fresh key")
        nextKey += 1
      } else assert(id.toLong >= 0 && id.toLong < nextKey, "updates and deletes hit existing keys")
    }
    def share(op: String) = ops(op) / 100000.0
    assert(math.abs(share("c") - 0.1) < 0.01)
    assert(math.abs(share("u") - 0.8) < 0.01)
    assert(math.abs(share("d") - 0.1) < 0.01)
    assert(ops.keySet == Set("c", "u", "d"))
  }

  test("snapshot rows cover exactly the initial key range in wire form") {
    val lines = new ProductFeed(1, 50).snapshotLines().toSeq
    assert(lines.map { case Id(id) => id.toLong } == (0L until 50L))
    assert(lines.forall(l => l.matches(""".*"price":"\d+\.\d\d".*""") && !l.contains("\"op\"")))
  }

  test("freshness maps each file to the first batch that covers its rows") {
    import Freshness._
    // files of 10 rows due every 100 ms; batches commit at 1000, 2000 and
    // 3000 ms with 30, 0 and 20 rows; the last file is never read
    val files = (0 until 6).map(i => FileDue(100L * i, 10))
    val batches = Seq(BatchCommit(1000, 30), BatchCommit(2000, 0), BatchCommit(3000, 20))
    assert(perFile(files, batches) ==
      Seq(Some(1000L), Some(900L), Some(800L), Some(2700L), Some(2600L), None))
  }

  test("a percentile with fewer than ten samples beyond it fails loudly") {
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9, "x") == 90.0)
    intercept[IllegalArgumentException](Stats.percentile((1 to 99).map(_.toDouble), 0.9, "x"))
    assert(Stats.percentile((1 to 20).map(_.toDouble), 0.5, "x") == 10.0)
  }
}
