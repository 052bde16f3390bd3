package graft.perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.util.SplittableRandom

/** Seeded generator of the reference benchmark's message shape
  * (PolarStreams `docs/benchmarks/README.md`): 1 KiB JSON-ish bodies that
  * mix random text, dictionary values, numbers and UUIDs, under
  * Zipf-skewed partition keys. The key space and skew are YCSB's core
  * workload defaults (`recordcount=1000`, Zipfian constant 0.99; Cooper
  * et al., SoCC 2010), since the reference names no key distribution.
  * Every body leads with its producer
  * sequence `p`, key `k` and due time `d` (microseconds from the run's
  * schedule origin) so a consumer can check order and measure delivery
  * latency.
  *
  * The stream is a pure function of the seed and the call sequence: the
  * same seed and the same calls give byte-identical keys and bodies.
  */
final class MessageGen(seed: Long, keySpace: Int = 1000, zipfS: Double = 0.99,
    keyPrefix: String = "u") {
  import MessageGen._

  private val rnd = new SplittableRandom(seed)

  private val cdf: Array[Double] = {
    val w = Array.tabulate(keySpace)(r => 1.0 / math.pow(r + 1.0, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** Next Zipf-distributed partition key (rank 0 is the hottest). */
  def nextKey(): String = {
    val u = rnd.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    keyPrefix + math.min(i, keySpace - 1)
  }

  /** One body of exactly [[MessageGen.Size]] ASCII bytes. */
  def body(seq: Long, key: String, dueMicros: Long): Array[Byte] = {
    val sb = new java.lang.StringBuilder(Size)
    sb.append("{\"p\":").append(seq)
      .append(",\"k\":\"").append(key)
      .append("\",\"d\":").append(dueMicros)
      .append(",\"id\":\"")
    uuid(sb)
    val milli = rnd.nextLong(1000000L)
    sb.append("\",\"n\":").append(rnd.nextInt(1000000))
      .append(",\"x\":").append(milli / 1000).append('.')
    val frac = milli % 1000
    if (frac < 100) sb.append('0')
    if (frac < 10) sb.append('0')
    sb.append(frac)
      .append(",\"cat\":\"").append(Categories(rnd.nextInt(Categories.length)))
      .append("\",\"lang\":\"").append(Langs(rnd.nextInt(Langs.length)))
      .append("\",\"txt\":\"")
    val textEnd = Size - 2 // room for the closing quote and brace
    require(sb.length < textEnd - 16, s"message header too long for key $key")
    while (sb.length < textEnd) {
      if (rnd.nextInt(10) < 7) sb.append(Words(rnd.nextInt(Words.length)))
      else {
        val n = 4 + rnd.nextInt(7)
        var i = 0
        while (i < n) { sb.append(Alnum.charAt(rnd.nextInt(Alnum.length))); i += 1 }
      }
      sb.append(' ')
    }
    sb.setLength(textEnd)
    sb.append("\"}")
    sb.toString.getBytes(US_ASCII)
  }

  private def uuid(sb: java.lang.StringBuilder): Unit = {
    val hi = (rnd.nextLong() & ~0xf000L) | 0x4000L
    val lo = (rnd.nextLong() & 0x3fffffffffffffffL) | Long.MinValue
    def hex(v: Long, digits: Int): Unit = {
      var d = digits - 1
      while (d >= 0) { sb.append(Hex.charAt(((v >>> (4 * d)) & 0xf).toInt)); d -= 1 }
    }
    hex(hi >>> 32, 8); sb.append('-'); hex(hi >>> 16, 4); sb.append('-'); hex(hi, 4)
    sb.append('-'); hex(lo >>> 48, 4); sb.append('-'); hex(lo, 12)
  }
}

object MessageGen {
  val Size = 1024
  private val Hex = "0123456789abcdef"
  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val Categories = Array("billing", "search", "checkout", "profile", "inventory",
    "shipping", "review", "support", "catalog", "payments", "auth", "recommend")
  private val Langs = Array("en", "de", "fr", "es", "zh", "ja", "pt", "it")
  private val Words = Array("stream", "partition", "broker", "offset", "consumer", "producer",
    "segment", "replica", "leader", "token", "range", "commit", "batch", "record", "topic",
    "latency", "throughput", "cluster", "ring", "generation", "coalesce", "flush", "durable",
    "ack", "group", "page", "window", "event", "order", "customer", "price", "quantity",
    "shipment", "invoice", "account", "session", "device", "region", "market", "signal",
    "value", "metric", "sample", "query", "index", "table", "column", "vector", "sketch",
    "hash", "merge", "sort", "join", "filter", "scan", "spill", "shuffle", "task", "stage")

  /** SHA-256 over a generated stream: `batches` keyed batches of `perBatch`
    * bodies, with due times 1 ms apart. The determinism check compares it
    * across generators, processes and edits of this file.
    */
  def digest(seed: Long, batches: Int, perBatch: Int): String = {
    val g = new MessageGen(seed)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var seq = 0L
    var b = 0
    while (b < batches) {
      val key = g.nextKey()
      md.update(key.getBytes(US_ASCII))
      var i = 0
      while (i < perBatch) {
        val body = g.body(seq, key, seq * 1000L)
        require(body.length == Size, s"body of ${body.length} bytes")
        md.update(body)
        seq += 1; i += 1
      }
      b += 1
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  /** `GenCheck <seed> <batches> <perBatch>`: prints the stream digest. */
  def main(args: Array[String]): Unit =
    println(digest(args(0).toLong, args(1).toInt, args(2).toInt))
}
