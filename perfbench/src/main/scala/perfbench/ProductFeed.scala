package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Seeded generator of the PRODUCT table and its change feed, in the wire
  * forms the reference's connector emits: PRICE as a string, dates as epoch
  * milliseconds, one flat JSON object per change event.
  *
  * The keys of the snapshot are `0 until keys`. Inserts (`c`) create fresh
  * keys above every key seen so far; updates (`u`) and deletes (`d`) pick a
  * key uniformly from all keys created so far, deleted ones included (a
  * delete of a deleted key is a no-op in the fold). Every event gets the
  * next scn, so scn order is file order is generation order.
  *
  * Generation is a pure function of the seed and the call sequence, so the
  * same seed writes byte-identical files.
  */
final class ProductFeed(seed: Long, val keys: Int, val snapshotScn: Long = 1000L) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var nextKey: Long = keys
  private var nextScn: Long = snapshotScn + 1
  // epoch ms of the snapshot; events advance it by one second each
  private val baseMs = 1700000000000L

  /** Snapshot rows as JSON lines (the columns of [[ProductFeed.baseSchema]]). */
  def snapshotLines(): Iterator[String] =
    Iterator.range(0, keys).map(k => rowJson(k.toLong, baseMs, 0, None))

  /** The next change event as one JSON line. */
  def nextEvent(): String = {
    val scn = nextScn
    nextScn += 1
    val r = rnd.nextInt(10)
    if (r == 0) {
      val k = nextKey
      nextKey += 1
      rowJson(k, baseMs + scn * 1000, 1, Some(("c", scn)))
    } else {
      val k = rnd.nextLong(nextKey)
      if (r == 1) s"""{"id":$k,"op":"d","scn":$scn}"""
      else rowJson(k, baseMs, rnd.nextInt(1000) + 1, Some(("u", scn)))
    }
  }

  /** Write `events` change events as one JSON-lines file. The file is
    * written under a dot-prefixed name, which the file source ignores, and
    * renamed into place, so a reader never sees it half written.
    * Returns the number of bytes written.
    */
  def writeFile(dir: Path, name: String, events: Int): Long = {
    val sb = new java.lang.StringBuilder(events * 160)
    var i = 0
    while (i < events) { sb.append(nextEvent()).append('\n'); i += 1 }
    val bytes = sb.toString.getBytes(UTF_8)
    val tmp = dir.resolve("." + name)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  private def rowJson(id: Long, createdMs: Long, rev: Int, change: Option[(String, Long)]): String = {
    val cents = 100 + rnd.nextInt(99900)
    val stock = rnd.nextInt(10000)
    // DESCRIPTION is the one nullable column of the source table
    val desc = if (rnd.nextInt(5) == 0) "null" else s""""Product $id revision $rev""""
    val updated = change.fold(createdMs)(c => baseMs + c._2 * 1000)
    val tail = change.fold("")(c => s""","op":"${c._1}","scn":${c._2}""")
    s"""{"id":$id,"name":"product-$id","description":$desc,"price":"${cents / 100}.${f"${cents % 100}%02d"}",""" +
      s""""stock":$stock,"created_date":$createdMs,"updated_date":$updated$tail}"""
  }
}

object ProductFeed {
  import org.apache.spark.sql.types._

  /** Source row of the PRODUCT table in wire form. */
  val baseSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("price", StringType),
    StructField("stock", LongType),
    StructField("created_date", LongType),
    StructField("updated_date", LongType)))

  /** A change event: the row plus op and scn. */
  val feedSchema: StructType = baseSchema
    .add(StructField("op", StringType))
    .add(StructField("scn", LongType))
}
