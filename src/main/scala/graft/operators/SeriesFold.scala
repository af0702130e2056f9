package graft.operators

import java.sql.Date

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The two shapes every fixed-point series operator runs in, written
  * once: the single-task GATHER of a day-keyed series, and the keyed
  * RECURRENCE driven either over a sorted batch group or across
  * micro-batches.
  *
  * Gather: the input aggregation (one row per day) is distributed; the
  * operator body folds the DAY-COUNT-bounded series — a frame that
  * grows with the calendar, not the corpus — inside one executor task
  * (single-group mapGroups, the KMeans-centroid bounded-frame class).
  * Empty input forms no group, so the operator emits no rows.
  *
  * Recurrence: a pure step `(state, input) => (state, output)` from an
  * initial state. The operator object owns the step's arithmetic
  * ([[Ewma.step]], [[Holt.step]], [[Kalman.step]], [[Cusum.step]],
  * [[Risk.drawdownStep]]); [[scan]] runs it over a sorted batch group
  * and [[stream]] carries its state across micro-batches. Batch/stream
  * parity contract (spec-pinned per twin, the EwmaStreamSpec
  * discipline): the stream applies rows in the operator's sort key
  * WITHIN each micro-batch, so under ordered arrival across batches
  * (a partitioned log's per-key ordering) the streamed trajectory,
  * replayed with batches split at any key-order boundary, is BIT-EQUAL
  * to the batch fold over the union — the state is all-integer, so
  * there is no drift to tolerate, and the step is the same function on
  * both sides.
  */
object SeriesFold {

  /** Gather `rows` into one task, sort them by `day` and hand the
    * array to `body`. */
  def gather[T, O: Encoder](rows: Dataset[T])(day: T => Date)(
      body: Array[T] => Iterator[O]): Dataset[O] = {
    implicit val ct: ClassTag[T] = rows.encoder.clsTag
    rows.groupByKey(_ => true)(Encoders.scalaBoolean)
      .flatMapGroups((_, it) => body(it.toArray.sortBy(day(_).getTime)))
  }

  /** [[gather]] of the (`dayCol` as date, `valCol` as long) series. */
  def series[O: Encoder](df: DataFrame, dayCol: String, valCol: String)(
      body: Array[(Date, Long)] => Iterator[O]): Dataset[O] =
    gather(df.select(col(dayCol).cast("date"), col(valCol).cast("long"))
      .as[(Date, Long)](Encoders.tuple(Encoders.DATE, Encoders.scalaLong)))(_._1)(body)

  /** Batch driver: run `step` from `init` over rows already in order. */
  def scan[S, I, O](init: S, rows: Iterator[I])(step: (S, I) => (S, O)): Iterator[O] = {
    var st = init
    rows.map { r => val (s, o) = step(st, r); st = s; o }
  }

  /** Streaming driver: per `key`, the state carried across micro-batches
    * (`init` for a new key), each batch's rows applied in `order`. */
  def stream[I, K: Encoder, B: Ordering, S: Encoder, O: Encoder](in: Dataset[I])(
      key: I => K, order: I => B, init: S)(step: (K, S, I) => (S, O)): Dataset[O] =
    in.groupByKey(key).flatMapGroupsWithState[S, O](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (k: K, rows: Iterator[I], state: GroupState[S]) =>
        var st = state.getOption.getOrElse(init)
        val out = rows.toSeq.sortBy(order).map { r =>
          val (s, o) = step(k, st, r); st = s; o
        }
        state.update(st)
        out.iterator
    }
}
