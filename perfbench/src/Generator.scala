package perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory

/** One Kafka source record header (the source's `headers` element type). */
final case class KafkaHeader(key: String, value: Array[Byte])

/** A row shaped like Spark's Kafka source output (`Kafka.SourceSchema`). */
final case class KafkaRow(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int,
    headers: Seq[KafkaHeader])

/** Seeded input generator for the `stream_catchup` workload.
  *
  * Each message is an `AccountBalanceChangeRequest` (FIXTURES.md §2.2)
  * serialized as Confluent-framed Avro (magic byte, 4-byte schema id, Avro
  * binary), keyed by its account id framed with the `{"type":"string"}` key
  * schema, placed on the source partition murmur3-32(key) mod `partitions`,
  * and carrying a `due_ns` header: the `System.nanoTime` at which it was due
  * to be sent.
  *
  * Keys are drawn uniformly over `accounts`. Alongside the rows it keeps what a
  * correct pipeline must produce: the per-key balance (sum of amounts) and
  * the per-partition end offsets. The program under test sees only the rows.
  *
  * The generator does not call into the program: Avro comes from the Avro
  * library and murmur3 is implemented here. */
final class Generator(seed: Long, val accounts: Int, val partitions: Int) {
  import Generator._

  private val rng = new java.util.SplittableRandom(seed)
  private val keys = Array.tabulate(accounts)(i => s"A$i")
  private val framedKeys = keys.map(k => frame(KeySchemaId, avroBytes(KeySchema, k)))
  private val keyPartition = keys.map(k => Math.floorMod(murmur3(k.getBytes(UTF_8)), partitions))
  private val valueRecord = new GenericData.Record(ValueSchema)

  /** Next offset per source partition = its end offset so far. */
  val endOffsets: Array[Long] = new Array[Long](partitions)
  /** Expected balance per account index. */
  val balances: Array[Long] = new Array[Long](accounts)
  /** Messages generated per account index. */
  val counts: Array[Int] = new Array[Int](accounts)
  private var generated = 0L

  def total: Long = generated
  def key(i: Int): String = keys(i)

  /** The next message, on account `forced` if given, else a drawn one. */
  def next(dueNs: Long, forced: Int = -1): KafkaRow = {
    val k = if (forced >= 0) forced else rng.nextInt(accounts)
    val amount = AmountMin + rng.nextInt(AmountMax - AmountMin + 1)
    val p = keyPartition(k)
    val offset = endOffsets(p)
    endOffsets(p) += 1
    balances(k) += amount
    counts(k) += 1
    val eventMs = BaseEpochMs + generated
    generated += 1
    valueRecord.put("account_id", keys(k))
    valueRecord.put("timestamp", (eventMs / 1000.0).toFloat)
    valueRecord.put("amount", amount)
    KafkaRow(framedKeys(k), frame(ValueSchemaId, avroBytes(ValueSchema, valueRecord)),
      InTopic, p, offset, new Timestamp(eventMs), 0,
      Seq(KafkaHeader(DueHeader, dueNs.toString.getBytes(UTF_8))))
  }

  /** One message per account, in account order: fills the table. */
  def primeAll(dueNs: Long): Seq[KafkaRow] = (0 until accounts).map(i => next(dueNs, i))
}

object Generator {
  val InTopic = "balance_change_requests"
  val DueHeader = "due_ns"
  val AmountMin = -2500
  val AmountMax = 500
  val KeySchemaId = 1
  val ValueSchemaId = 2
  private val BaseEpochMs = 1700000000000L

  val ValueSchemaJson: String =
    """{"name":"AccountBalanceChangeRequest","type":"record","fields":[""" +
      """{"name":"account_id","type":"string","default":""},""" +
      """{"name":"timestamp","type":"float","default":0},""" +
      """{"name":"amount","type":"int","default":0}]}"""
  val KeySchema: Schema = new Schema.Parser().parse("\"string\"")
  val ValueSchema: Schema = new Schema.Parser().parse(ValueSchemaJson)

  private def avroBytes(schema: Schema, datum: Any): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    val d = datum match {
      case s: String => new org.apache.avro.util.Utf8(s)
      case other => other
    }
    new GenericDatumWriter[Any](schema).write(d, enc)
    enc.flush()
    out.toByteArray
  }

  /** Confluent wire format: magic 0, big-endian schema id, payload. */
  def frame(schemaId: Int, payload: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + payload.length).put(0.toByte).putInt(schemaId)
      .put(payload).array()

  /** MurmurHash3 x86 32-bit, seed 0 (the `mmh3.hash` fluvii partitions by). */
  def murmur3(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = 0
    val n = data.length / 4
    var i = 0
    while (i < n) {
      val b = i * 4
      var k = (data(b) & 0xff) | ((data(b + 1) & 0xff) << 8) |
        ((data(b + 2) & 0xff) << 16) | ((data(b + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    var k = 0
    val t = n * 4
    val rem = data.length & 3
    if (rem == 3) k ^= (data(t + 2) & 0xff) << 16
    if (rem >= 2) k ^= (data(t + 1) & 0xff) << 8
    if (rem >= 1) {
      k ^= data(t) & 0xff
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^= h >>> 16
    h
  }
}
