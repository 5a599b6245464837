package graft.catalog

import java.nio.ByteBuffer
import java.util.Base64
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tiny per-file membership filter over a key column — the point-lookup
  * analogue of min/max stats. Random keys (UUIDs) give every file a
  * [min,max] spanning the whole keyspace, so range pruning keeps every
  * file and each ledger probe rescans the table
  * (`destination_client.py:1139-1150` is a catalog-side row filter; at
  * millions of loads the manifest needs a membership structure). A
  * 1024-bit bloom (128 B per file per column in table metadata, k=4)
  * prunes a point probe to the files that actually contain the key —
  * false-positive rate (1-e^(-4n/1024))^4: <1e-4 at n=20 keys/file,
  * ~0.024 at n=100.
  *
  * Both sides hash the key's canonical string (`Stager.canonicalKey`)
  * with Spark's `xxhash64` fold: h1 = xxhash64(s) (seed 42),
  * h2 = xxhash64(s, 1L) = H(1L, h1); bit position i = (h1 + i·h2) mod
  * 1024, computed on residues mod 1024.
  */
object KeyBloom {
  val NumBits = 1024
  val NumLongs: Int = NumBits / 64 // 16 words
  val NumHashes = 4

  /** Types whose canonical probe encoding (`Stager.canonicalKey`) is
    * bit-stable between a written value and a probed one. Float/double/
    * decimal/binary are excluded: their Spark `CAST(.. AS STRING)` and JVM
    * `toString` renderings can differ, which would make every probe miss
    * (a SILENT correctness hole for merges — probes that miss skip
    * genuinely-affected files). Unsupported types simply get no bloom;
    * readers keep bloom-less files conservatively. */
  def supportsBloom(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
        DateType | TimestampType => true
    case _ => false
  }

  /** Bloom over a key set (e.g. the file paths of one manifest —
    * metadata-scale). */
  def build(keys: Iterable[String]): String = {
    val words = Array.fill(NumLongs)(0L)
    keys.foreach(k => positions(k).foreach(p => words(p / 64) |= (1L << (p % 64))))
    encode(words.toSeq)
  }

  /** The k bit positions of `key`, shared by the build side (the write's
    * per-file fold) and the probe side. */
  def positions(key: String): Seq[Int] = {
    val u = UTF8String.fromString(key)
    val h1 = XxHash64Function.hash(u, StringType, 42L)
    val h2 = XxHash64Function.hash(1L, LongType, h1)
    val p1 = java.lang.Math.floorMod(h1, NumBits.toLong)
    val p2 = java.lang.Math.floorMod(h2, NumBits.toLong)
    (0 until NumHashes).map(i =>
      java.lang.Math.floorMod(p1 + i.toLong * p2, NumBits.toLong).toInt)
  }

  def encode(words: Seq[Long]): String = {
    val bb = ByteBuffer.allocate(NumLongs * 8)
    words.foreach(bb.putLong)
    Base64.getEncoder.encodeToString(bb.array())
  }

  def mightContain(b64: String, key: String): Boolean = {
    val bb = ByteBuffer.wrap(Base64.getDecoder.decode(b64))
    val words = Array.fill(NumLongs)(bb.getLong())
    positions(key).forall { p => (words(p / 64) & (1L << (p % 64))) != 0L }
  }
}
