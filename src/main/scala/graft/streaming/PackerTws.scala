package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

import graft.streaming.StreamingPacker.{PackState, PackedChunk, TokenDoc}

/** The streaming sequence packer on Spark 4's `transformWithState` API —
  * the arbitrary-state successor to `flatMapGroupsWithState` (typed
  * per-key state handles, RocksDB-backed, per-state TTL, schema
  * evolution). The packing ALGEBRA is shared with [[StreamingPacker]]
  * (`packGroup`), so both operators enforce the same ordering contract
  * and emit byte-identical chunks; StreamingPackerSpec asserts
  * cross-operator equality on multi-batch arrivals.
  *
  * Operational notes: `transformWithState` requires the RocksDB state
  * store provider (`spark.sql.streaming.stateStore.providerClass` =
  * `...state.RocksDBStateStoreProvider` — bundled with Spark; `StreamRun`
  * sets it for any plan with this operator) — which is also what a 100 TB
  * deployment runs for state larger than executor heap. State is one
  * [[PackState]] per source under TTLConfig.NONE (packing state must never
  * expire mid-corpus; a CDC-style ingest with finite sources would pass a
  * TTL instead).
  */
object PackerTws {

  class PackProcessor(chunkSize: Int)
      extends StatefulProcessor[String, TokenDoc, PackedChunk] {
    @transient private var state: ValueState[PackState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PackState](
        "pack", Encoders.product[PackState], TTLConfig.NONE)

    override def handleInputRows(source: String, rows: Iterator[TokenDoc],
        timerValues: TimerValues): Iterator[PackedChunk] = {
      val st = if (state.exists()) state.get() else PackState(0L, Nil, 0L, None)
      val (out, next) = StreamingPacker.packGroup(source, rows.toSeq, st, chunkSize)
      state.update(next)
      out.iterator
    }
  }

  def pack(docs: Dataset[TokenDoc], chunkSize: Int = 128): Dataset[PackedChunk] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new PackProcessor(chunkSize), TimeMode.None(), OutputMode.Append())
  }
}
