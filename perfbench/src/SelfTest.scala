package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory

/** Checks of the benchmark's own input generator, run by
  * `test_perfbench.py` through `Main --workload selftest`. Each check
  * records a `selftest.<name>` fact: "ok" or what went wrong. */
object SelfTest {
  def run(a: Main.Args, res: Results): Unit = {
    def check(name: String)(ok: => Boolean, detail: => String): Unit =
      res.fact(s"selftest.$name",
        try { if (ok) "ok" else detail } catch { case t: Throwable => t.toString })
    def rows(seed: Long) = {
      val g = new Generator(seed, 1000, 4)
      (g, (1 to 2000).map(_ => g.next(42L)))
    }
    def same(x: Seq[KafkaRow], y: Seq[KafkaRow]) = x.size == y.size && x.zip(y).forall {
      case (r, s) => java.util.Arrays.equals(r.key, s.key) &&
        java.util.Arrays.equals(r.value, s.value) && r.partition == s.partition &&
        r.offset == s.offset && r.timestamp == s.timestamp
    }
    val (g1, a1) = rows(a.seed)
    val (g2, a2) = rows(a.seed)
    val (_, b) = rows(a.seed + 1)
    check("same_seed_same_rows")(same(a1, a2) &&
      g1.balances.sameElements(g2.balances) && g1.endOffsets.sameElements(g2.endOffsets),
      "two generators with one seed differ")
    check("other_seed_other_rows")(!same(a1, b), "seeds give identical rows")
    // mmh3.hash published vectors (signed 32-bit, seed 0)
    check("murmur3_vectors")(
      Generator.murmur3("foo".getBytes(UTF_8)) == -156908512 &&
        Generator.murmur3("hello".getBytes(UTF_8)) == 613153351 &&
        Generator.murmur3(Array.emptyByteArray) == 0,
      "murmur3 differs from mmh3")
    val (g, rs) = rows(a.seed)
    check("partition_is_murmur3_of_key")(rs.forall { r =>
      val k = new String(r.key.drop(6), UTF_8) // magic, id, Avro string length
      r.partition == Math.floorMod(Generator.murmur3(k.getBytes(UTF_8)), 4)
    }, "a row is not on murmur3(key) mod 4")
    check("offsets_dense_per_partition")((0 until 4).forall { p =>
      rs.filter(_.partition == p).map(_.offset) == (0L until g.endOffsets(p))
    }, "offsets are not 0..end-1 per partition")
    check("confluent_framed_avro")(rs.forall { r =>
      val v = r.value
      v(0) == 0 && java.nio.ByteBuffer.wrap(v, 1, 4).getInt == Generator.ValueSchemaId && {
        val rec = new GenericDatumReader[GenericRecord](Generator.ValueSchema)
          .read(null, DecoderFactory.get().binaryDecoder(v, 5, v.length - 5, null))
        val amt = rec.get("amount").asInstanceOf[Int]
        amt >= Generator.AmountMin && amt <= Generator.AmountMax
      }
    }, "a value is not framed AccountBalanceChangeRequest Avro")
    check("balances_are_sums")({
      val sums = new Array[Long](1000)
      rs.foreach { r =>
        val v = r.value
        val rec = new GenericDatumReader[GenericRecord](Generator.ValueSchema)
          .read(null, DecoderFactory.get().binaryDecoder(v, 5, v.length - 5, null))
        sums(rec.get("account_id").toString.drop(1).toInt) += rec.get("amount").asInstanceOf[Int]
      }
      sums.sameElements(g.balances)
    }, "expected balances differ from the rows' sums")
  }
}
