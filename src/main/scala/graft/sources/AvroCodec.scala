package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Memo, Tables}

/** Avro wire-format encode/decode (SURVEY.md §2.1 "Avro encode/decode +
  * registry"; reference `README.md:813-816` uses Confluent Avro
  * converters + Schema Registry).
  *
  * The Spark distribution here ships no `spark-avro` module, so this
  * codec drives avro-core's GenericRecord binary coders partition-wise —
  * writer/reader instantiated once per partition, streaming rows through
  * a single reused binary encoder, which is the per-record cost profile
  * of the reference's converter. Messages carry the Confluent 5-byte
  * frame (magic + big-endian schema id, [[SchemaFrame]]) resolved
  * against the [[SchemaRegistry]] stand-in on decode.
  */
object AvroCodec {

  val nationSchemaJson: String =
    """{"type":"record","name":"nation","fields":[
      |{"name":"n_nationkey","type":"int"},
      |{"name":"n_name","type":"string"},
      |{"name":"n_regionkey","type":"int"}]}""".stripMargin

  def encodeNation(rows: Iterator[(Int, String, Int)], schemaJson: String): Iterator[Array[Byte]] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    // one buffer + one encoder per PARTITION, reset/reused per record —
    // the per-record cost profile the class doc promises (a fresh
    // BAOS + BinaryEncoder per record is pure GC churn on the hot path;
    // EncoderFactory's `reuse` parameter exists for exactly this)
    val out = new java.io.ByteArrayOutputStream()
    var enc = EncoderFactory.get().binaryEncoder(out, null)
    rows.map { case (k, name, rk) =>
      val rec = new GenericData.Record(schema)
      rec.put("n_nationkey", k)
      rec.put("n_name", name)
      rec.put("n_regionkey", rk)
      out.reset()
      enc = EncoderFactory.get().binaryEncoder(out, enc)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
  }

  /** Confluent-consumer read path: each framed message resolves its
    * WRITER schema from the frame's id against the (broadcast) registry
    * snapshot and is decoded with reader schema `readerJson` — Avro
    * schema resolution bridges writer versions, so a stream carrying
    * mixed schema versions decodes in one pass. Readers are cached per
    * writer id within the partition (the per-record cost profile of the
    * reference's converter).
    */
  def decodeFramedNation(
      blobs: Iterator[Array[Byte]],
      schemasById: Map[Int, String],
      readerJson: String): Iterator[(Int, String, Int)] = {
    val readerSchema = new Schema.Parser().parse(readerJson)
    val readers = collection.mutable.Map.empty[Int, GenericDatumReader[GenericRecord]]
    var dec: org.apache.avro.io.BinaryDecoder = null
    blobs.map { framed =>
      val (id, payload) = SchemaFrame.unframe(framed)
      val reader = readers.getOrElseUpdate(id, {
        val writerJson = schemasById.getOrElse(id,
          throw new IllegalStateException(s"unknown schema id $id"))
        new GenericDatumReader[GenericRecord](
          new Schema.Parser().parse(writerJson), readerSchema)
      })
      dec = DecoderFactory.get().binaryDecoder(payload, dec) // reuse decoder state
      val rec = reader.read(null, dec)
      (rec.get("n_nationkey").asInstanceOf[Int],
        rec.get("n_name").toString,
        rec.get("n_regionkey").asInstanceOf[Int])
    }
  }

  private val regCache = Memo.slot[Unit, (Int, org.apache.spark.broadcast.Broadcast[Map[Int, String]])]("AvroCodec.regCache")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // serialize → Confluent-framed binary wire form (magic + schema id +
    // avro body, resolved against the registry) → deserialize; output
    // equals the input table, proving lossless transport (the full §3.1
    // stage-6 path including README.md:813-816's registry framing).
    "avro_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val schemaJson = nationSchemaJson
      // one registry + one broadcast snapshot per SESSION (evicting
      // stopped sessions): a fresh temp dir + broadcast per invocation
      // littered /tmp and the driver block manager across a long run
      val (schemaId, byId) = regCache(s, ()) {
        val regDir = graft.TempDirs.scratch("graft_registry")
        val reg = SchemaRegistry.open(regDir.toString)
        val id = reg.register("nation-value", schemaJson)
        // executors resolve writer schemas from a broadcast registry
        // snapshot — the cluster-shaped read path (no driver round-trips)
        (id, s.sparkContext.broadcast(reg.schemasById))
      }
      Tables(s, dir).nation
        .select("n_nationkey", "n_name", "n_regionkey")
        .as[(Int, String, Int)]
        .mapPartitions(rows =>
          encodeNation(rows, schemaJson).map(b => SchemaFrame.frame(schemaId, b)))
        .mapPartitions(blobs => decodeFramedNation(blobs, byId.value, schemaJson))
        .toDF("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "avro_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"
  )
}
