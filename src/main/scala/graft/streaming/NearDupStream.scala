package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** One (doc × band) row routed to the stateful operator: `band` packs
  * (band index × 2^16 + 16-bit band value), so each of the 4·65536
  * possible keys holds exactly the docs agreeing on that band slice. */
final case class BandedDoc(band: Int, doc_id: Long, sh: Long)

/** A verified near-dup candidate, canonicalized a < b. */
final case class CandidatePair(a: Long, b: Long, hamming: Long)

/** Per-band-key near-dup matcher on Spark 4's `transformWithState`
  * arbitrary-state API (the successor to `flatMapGroupsWithState`:
  * typed composable state, per-entry TTL, timers, RocksDB-backed).
  *
  * State is one [[ListState]] of (doc_id, simhash64) per band key —
  * i.e. only the docs sharing this 16-bit band slice, not the corpus.
  * Every arriving doc is popcount-verified against the key's history
  * and ALL qualifying pairs are emitted (not just the best match), so
  * the emitted pair SET is invariant to arrival order — that is what
  * makes the streaming result deterministic and oracle-checkable even
  * though Spark feeds rows in file-scan order.
  *
  * The TTL bounds the dedup horizon: with a TTL of d days, state is
  * "docs seen in the last d days per band slice" and storage is
  * O(corpus-in-horizon × 4) regardless of how long the stream runs —
  * the knob a 100 TB/day ingest actually needs (an unbounded exact
  * first-arrival ledger would grow forever; see
  * `Streams.dedupOnArrival` for the exact-key variant).
  */
class SimhashBandProcessor(maxHamming: Int, ttl: TTLConfig)
    extends StatefulProcessor[Int, BandedDoc, CandidatePair] {

  @transient private var seen: ListState[BandedDoc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getListState("seen", Encoders.product[BandedDoc], ttl)

  override def handleInputRows(key: Int, rows: Iterator[BandedDoc],
      timerValues: TimerValues): Iterator[CandidatePair] =
    NearDupStream.matchEmitAppend(seen, rows, maxHamming)
}

/** [[SimhashBandProcessor]] bootstrapped from a HISTORICAL corpus: the
  * batch table's banded rows are loaded into state BEFORE the first
  * streaming batch (handleInitialState), so the stream flags new-vs-
  * history near-dups from its very first event WITHOUT replaying
  * history through the stream — the migration path for turning on
  * streaming dedup over an existing 100 TB corpus. History-internal
  * pairs are deliberately NOT emitted (they are the batch job's
  * result, q99); only pairs involving a streamed doc are. */
class SeededSimhashBandProcessor(maxHamming: Int, ttl: TTLConfig)
    extends StatefulProcessorWithInitialState[Int, BandedDoc, CandidatePair, BandedDoc] {

  @transient private var seen: ListState[BandedDoc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getListState("seen", Encoders.product[BandedDoc], ttl)

  override def handleInitialState(key: Int, initialState: BandedDoc,
      timerValues: TimerValues): Unit =
    seen.appendValue(initialState)

  override def handleInputRows(key: Int, rows: Iterator[BandedDoc],
      timerValues: TimerValues): Iterator[CandidatePair] =
    NearDupStream.matchEmitAppend(seen, rows, maxHamming)
}

/** Streaming SimHash near-dup detection on arrival — the streaming
  * counterpart of the batch Hamming-ball join (TrainingQueries.q99,
  * same banding, same pigeonhole guarantee: hamming ≤ 3 ⇒ at least
  * one of the 4 16-bit bands of the 64-bit fingerprint is equal —
  * Manku et al., WWW'07). A doc is fingerprinted with the native
  * SimHash64 expression as it arrives, exploded to its 4 band keys,
  * and matched against per-key RocksDB state; the union of per-band
  * emissions, deduplicated, IS the exact set of pairs within hamming
  * ≤ 3 of each other — which the DuckDB oracle (q99Sql) rebuilds from
  * scratch in SQL.
  *
  * transformWithState requires the RocksDB state store; the session
  * conf is flipped for the duration of the run and restored after.
  */
object NearDupStream {

  val RocksProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run `body` with the RocksDB state-store provider set on the
    * session conf, restoring the previous value afterwards (the
    * provider is read at query START, so restoring after
    * awaitTermination is safe). Shared by every transformWithState
    * runner — the flip/restore choreography must not drift between
    * them. */
  def withRocksProvider[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.getOption(ProviderKey)
    s.conf.set(ProviderKey, RocksProvider)
    try body
    finally prev match {
      case Some(p) => s.conf.set(ProviderKey, p)
      case None    => s.conf.unset(ProviderKey)
    }
  }

  /** File-stream source for a parquet "table" that may be either a
    * single file named `<name>.parquet` (the testdata layout — stream
    * the parent dir with a glob) or a directory of part files (any
    * partitioned write — stream the directory itself; the glob would
    * match no leaf file and silently yield an empty stream). */
  def streamParquetTable(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name"
    val schema = s.read.parquet(path).schema
    if (new java.io.File(path).isDirectory) s.readStream.schema(schema).parquet(path)
    else s.readStream.schema(schema).option("pathGlobFilter", name).parquet(dir)
  }

  /** Shared matcher: popcount-verify `rows` against the key's state,
    * emit ALL qualifying canonical pairs, append the rows to state.
    * One definition for the plain and the history-seeded processor. */
  private[streaming] def matchEmitAppend(seen: ListState[BandedDoc],
      rows: Iterator[BandedDoc], maxHamming: Int): Iterator[CandidatePair] = {
    val existing = scala.collection.mutable.ArrayBuffer.empty[BandedDoc]
    seen.get().foreach(existing += _)
    val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
    rows.foreach { r =>
      var i = 0
      while (i < existing.length) {
        val e = existing(i)
        if (e.doc_id != r.doc_id) {
          val h = java.lang.Long.bitCount(e.sh ^ r.sh).toLong
          if (h <= maxHamming)
            out += CandidatePair(math.min(e.doc_id, r.doc_id),
              math.max(e.doc_id, r.doc_id), h)
        }
        i += 1
      }
      existing += r
      seen.appendValue(r)
    }
    out.iterator
  }

  /** 4×16-bit packed band keys of a 64-bit hash column: band i's key
    * is i·2^16 + ((h >> 16i) & 0xFFFF). Pigeonhole: hamming ≤ 3 ⇒ at
    * least one band equal (Manku et al., WWW'07). ONE definition,
    * shared by this stream, and pHash image dedup
    * (Multimodal.imageNearDups) — the band topology must not drift
    * between the Hamming-ball implementations. */
  def packedBands(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    explode(array((0 until 4).map(i =>
      (lit(i * 65536L) + shiftright(h, i * 16).bitwiseAND(lit(0xFFFFL)))
        .cast("int")): _*))

  /** Pure plan: doc stream (doc_id, text, …) → band-keyed candidate
    * verdicts. Works on a batch frame too (useful for plan tests). */
  def pairsPlan(docs: DataFrame, maxHamming: Int = 3,
      ttl: TTLConfig = TTLConfig.NONE): org.apache.spark.sql.Dataset[CandidatePair] = {
    val s = docs.sparkSession
    import s.implicits._
    // a TTL requires the processing-time mode (Spark validates at
    // state init); without one, NoTime keeps the operator timer-free
    val mode = if (ttl == TTLConfig.NONE) TimeMode.None()
      else TimeMode.ProcessingTime()
    banded(docs).groupByKey(_.band)
      .transformWithState(new SimhashBandProcessor(maxHamming, ttl),
        mode, OutputMode.Append())
  }

  /** Banded rows of a (doc_id, text) frame — the processors' input and
    * initial-state shape. */
  private def banded(docs: DataFrame): org.apache.spark.sql.Dataset[BandedDoc] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", graft.plans.GraftFunctions.simhash64($"text").as("sh"))
      .select($"doc_id", $"sh", packedBands($"sh").as("band"))
      .select($"band", $"doc_id", $"sh").as[BandedDoc]
  }

  /** Stream near-dup detection BOOTSTRAPPED from a historical corpus:
    * `history` (a batch frame) loads into RocksDB state before the
    * first batch, so arriving docs match against history + each other
    * without the stream replaying history. Emits only pairs involving
    * a STREAMED doc (history-internal pairs are the batch job's
    * output, q99). */
  def pairsPlanSeeded(docsStream: DataFrame, history: DataFrame,
      maxHamming: Int = 3,
      ttl: TTLConfig = TTLConfig.NONE): org.apache.spark.sql.Dataset[CandidatePair] = {
    val s = docsStream.sparkSession
    import s.implicits._
    val mode = if (ttl == TTLConfig.NONE) TimeMode.None()
      else TimeMode.ProcessingTime()
    banded(docsStream).groupByKey(_.band)
      .transformWithState(new SeededSimhashBandProcessor(maxHamming, ttl),
        mode, OutputMode.Append(),
        banded(history).groupByKey(_.band))
  }

  /** AvailableNow run over the sf-dir documents table → distinct
    * ordered (a, b, hamming) pairs, hash-comparable to q99's oracle. */
  def run(s: SparkSession, dir: String, sinkName: String,
      maxHamming: Int = 3): DataFrame = {
    import s.implicits._
    val verdicts = pairsPlan(streamParquetTable(s, dir, "documents.parquet"),
      maxHamming)
    withRocksProvider(s) {
      val q = verdicts.writeStream
        .format("memory").queryName(sinkName)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(
          s"$sinkName: AvailableNow trigger did not complete in 300s")
      }
    }
    // a hamming-0 pair matches in all 4 bands → up to 4 identical
    // emissions; the verdict set is the DISTINCT union
    s.table(sinkName).distinct().orderBy($"a", $"b")
  }
}
