package graft.ingestbench

import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Seeded input generators. Every input is a pure function of the run's
  * seed and a batch (or round) number, and each generator also returns
  * what the engine's output must look like, so a workload's checks never
  * ask the engine for the expected answer. */
object Gen {

  /** Spark's `xxhash64` over a row's columns, left to right (seed 42),
    * computed on the driver so a table's `sum(xxhash64(...))` can be
    * compared with the generator's. */
  object Hash {
    val Seed = 42L
    def long(v: Long, h: Long): Long = XXH64.hashLong(v, h)
    def int(v: Int, h: Long): Long = XXH64.hashInt(v, h)
    def string(v: String, h: Long): Long = {
      val u = UTF8String.fromString(v)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
    }
    /** Row hashes are summed as unsigned 32-bit values so a table-sized sum
      * cannot overflow. */
    def fold(h: Long): Long = h & 0xffffffffL
  }

  private def rng(seed: Long, salt: Long, n: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt * 0xBF58476D1CE4E5B9L ^ n)

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  private val BaseMicros = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  // ---- bulk_append: kafka-shaped batches ---------------------------------

  val Topic = "events"
  val KafkaPartitions = 4
  private val Kinds = Array("click", "view", "cart", "purchase", "search")

  /** One kafka record; `hash` is xxhash64(id, user, kind, amount, ts,
    * partition, offset) of a live record's fields, 0 for a tombstone. */
  final case class KafkaRow(value: String, partition: Int, offset: Long, tsMicros: Long, hash: Long)

  /** Expected content of one kafka batch. `checksum` is Σ fold(xxhash64(id,
    * user, kind, amount, ts, partition, offset)) over the non-tombstone
    * rows; `nextOffsets` is max offset + 1 per "topic-partition"; `vtts`
    * is the engine's valid-through timestamp for the batch: the oldest
    * partition's newest record time, in epoch micros. */
  final case class KafkaBatch(rows: Array[KafkaRow], live: Long, checksum: Long,
      nextOffsets: Map[String, Long], vtts: Long)

  /** Row `i` of batch `b` (of `n` rows): round-robin over the partitions,
    * offsets continuing across batches, record time advancing 500 ms per
    * record with ±60 s of jitter, and about 1% tombstones (null value).
    * Each row has its own random stream, so any slice of a batch can be
    * generated on its own. */
  def kafkaRow(seed: Long, b: Int, n: Int, i: Int): KafkaRow = {
    val r = rng(seed, 1, b.toLong * n + i)
    val g = b.toLong * n + i
    val p = i % KafkaPartitions
    val offset = b.toLong * (n / KafkaPartitions) + i / KafkaPartitions
    val ts = BaseMicros + g * 500000L + (r.nextLong(120L) - 60L) * 1000000L
    if (r.nextInt(100) == 0) KafkaRow(null, p, offset, ts, 0L)
    else {
      val (id, user, kind, amount) = (g + 1, s"u${r.nextInt(20000)}", Kinds(r.nextInt(Kinds.length)), r.nextLong(1000000L))
      val tsStr = TsFmt.format(java.time.Instant.ofEpochSecond(ts / 1000000L))
      var h = Hash.long(id, Hash.Seed)
      h = Hash.string(user, h); h = Hash.string(kind, h); h = Hash.long(amount, h)
      h = Hash.string(tsStr, h); h = Hash.int(p, h); h = Hash.long(offset, h)
      KafkaRow(s"""{"id":$id,"user":"$user","kind":"$kind","amount":$amount,"ts":"$tsStr"}""", p, offset, ts, h)
    }
  }

  /** Batch `b` of `n` rows ([[kafkaRow]]) with its expected content. */
  def kafkaBatch(seed: Long, b: Int, n: Int): KafkaBatch = {
    require(n % KafkaPartitions == 0, s"batch rows must divide by $KafkaPartitions")
    val rows = Array.tabulate(n)(i => kafkaRow(seed, b, n, i))
    var live = 0L
    var sum = 0L
    val maxTs = Array.fill(KafkaPartitions)(Long.MinValue)
    rows.foreach { row =>
      maxTs(row.partition) = math.max(maxTs(row.partition), row.tsMicros)
      if (row.value != null) {
        live += 1
        sum += Hash.fold(row.hash)
      }
    }
    val next = (0 until KafkaPartitions).map { p =>
      s"$Topic-$p" -> ((b.toLong + 1) * (n / KafkaPartitions))
    }.toMap
    KafkaBatch(rows, live, sum, next, maxTs.min)
  }

  // ---- stream_fanout: timestamped JSON records ---------------------------

  val StreamRoutes = 8

  /** Record `i` of a stream: routed to one of [[StreamRoutes]] tables, due
    * at `dueMicros`. `qty` is a numeric string, except for about 0.1%
    * poison records whose `qty` cannot be read as a number; records from
    * `evolveAt` on carry a new optional field named `field`. A `first`
    * record (the stream's first trigger, which creates the tables) carries
    * `qty` as a JSON number and is never poison, so the tables get a
    * numeric `qty` column. */
  final case class StreamRecord(eventId: Long, route: Int, poison: Boolean, json: String)

  def streamRecord(seed: Long, i: Long, dueMicros: Long, evolveAt: Long, field: String,
      first: Boolean = false): StreamRecord = {
    val r = rng(seed, 2, i)
    val route = r.nextInt(StreamRoutes)
    val poison = r.nextInt(1000) == 0 && !first
    val n = r.nextInt(10000)
    val qty = if (poison) "\"n/a\"" else if (first) n.toString else "\"" + n + "\""
    val note = if (i >= evolveAt) s""","$field":"n${r.nextInt(100)}"""" else ""
    StreamRecord(i, route, poison,
      s"""{"event_id":$i,"route":"t$route","qty":$qty,"due_us":$dueMicros$note}""")
  }

  // ---- cdc_upsert_read: keyed I/U/D batches ------------------------------

  final case class CdcRow(id: Long, op: String, v: Long, name: String, offset: Long)

  /** A CDC change stream over a Zipf(1.1)-skewed key space. Ops are valid
    * in sequence: a key that is not live gets an insert; a live key gets
    * an update (80%) or a delete (20%). `state` is the last-wins reference:
    * the live row (v, name) per key after every op so far. */
  final class CdcStream(seed: Long, keys: Int) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(keys)(k => 1.0 / math.pow(k + 1.0, 1.1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    val state = scala.collection.mutable.LongMap.empty[(Long, String)]
    private var offset = 0L

    private def zipf(r: SplittableRandom): Long = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      (if (i >= 0) i else -i - 1).min(keys - 1).toLong
    }

    def batch(b: Int, n: Int): Array[CdcRow] = {
      val r = rng(seed, 3, b)
      Array.fill(n) {
        val k = zipf(r)
        val op = if (!state.contains(k)) "I" else if (r.nextInt(5) == 0) "D" else "U"
        val v = r.nextLong(1L << 40)
        val name = s"n${r.nextInt(1000)}"
        if (op == "D") state.remove(k) else state.update(k, (v, name))
        offset += 1
        CdcRow(k, op, v, name, offset)
      }
    }

    /** A key drawn from the same skew as the ops: what a lookup asks for. */
    def hotKey(r: SplittableRandom): Long = zipf(r)

    /** (live rows, Σ fold(xxhash64(id, v, name))) of the reference state. */
    def summary: (Long, Long) =
      (state.size.toLong, state.iterator.map { case (k, (v, name)) => rowHash(k, v, name) }.sum)
  }

  def rowHash(id: Long, v: Long, name: String): Long =
    Hash.fold(Hash.string(name, Hash.long(v, Hash.long(id, Hash.Seed))))

  // ---- corpus_curate: documents with known duplicates --------------------

  /** `exactOf(i) = j` when doc i is a verbatim copy of doc j; near
    * duplicates (one word replaced) are also injected but not recorded,
    * since whether LSH pairs them is probabilistic. */
  final case class Corpus(docs: Array[(Long, String)], exactOf: Map[Long, Long])

  val Vocabulary = 3000

  /** Round `round`'s corpus of `n` docs, ids starting after earlier rounds'
    * ids: Zipf-ish words over [[Vocabulary]], 40–90 words a doc, 5% exact
    * copies and 5% one-word edits of an earlier doc of the round. */
  def corpus(seed: Long, round: Int, n: Int): Corpus = {
    val r = rng(seed, 4, round)
    val base = round.toLong * n // ids stay distinct while n does not grow between rounds
    def word(): String = s"w${(math.pow(r.nextDouble(), 2.0) * Vocabulary).toInt}"
    val texts = new Array[String](n)
    val exact = Map.newBuilder[Long, Long]
    var i = 0
    while (i < n) {
      // 0: exact copy, 1: one-word edit of an earlier doc, else a fresh doc
      val kind = if (i < 10) 2 else r.nextInt(20)
      texts(i) = kind match {
        case 0 =>
          val j = r.nextInt(i)
          exact += (base + i) -> (base + j)
          texts(j)
        case 1 =>
          val ws = texts(r.nextInt(i)).split(' ')
          ws(r.nextInt(ws.length)) = word()
          ws.mkString(" ")
        case _ => Array.fill(40 + r.nextInt(51))(word()).mkString(" ")
      }
      i += 1
    }
    Corpus(texts.indices.map(k => (base + k, texts(k))).toArray, exact.result())
  }

  /** A fixed query set: `q` queries of 2–3 distinct words from the
    * vocabulary's common half. */
  def queries(seed: Long, q: Int): Seq[Seq[String]] = {
    val r = rng(seed, 5, 0)
    Seq.fill(q)(Seq.fill(2 + r.nextInt(2))(s"w${r.nextInt(Vocabulary / 2)}").distinct)
  }
}
