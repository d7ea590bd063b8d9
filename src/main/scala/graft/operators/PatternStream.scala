package graft.operators

import org.apache.spark.sql.{Column, Dataset, Encoder}

import graft.pattern.{NFA, Pattern}

/** Fluent pattern-stream surface mirroring the reference's API flow —
  * `CEP.pattern(keyedStream, pattern)` returning a `PatternStream`, then
  * `.process(...)` / `.select(...)`
  * (`/root/reference/src/main/scala/kosmag/FlinkCEPExample.scala:76-92`):
  *
  * {{{
  * import graft.operators.PatternStreamOps._
  * events.matchPattern(_.user_id, _.tsMs, pattern, Seq($"ts"))
  *   .select((k, m) => Out(k, m.startTs))                    // matches only
  * // or .flatSelectWithTimeouts(onMatch, onTimeout)          // tagged both
  * }}}
  */
final class PatternStream[K, T] private[operators] (
    ds: Dataset[T],
    keyFn: T => K,
    tsFn: T => Long,
    pattern: Pattern[T],
    sortCols: Seq[Column])(implicit ke: Encoder[K]) {

  /** One output row per match; timed-out partials dropped. */
  def select[O: Encoder](f: (K, NFA.PatternMatch[T]) => O): Dataset[O] =
    Cep.matchPattern[K, T, O](ds, keyFn, tsFn, pattern, sortCols)(
      (k, m) => Some(f(k, m)), (_, _) => None)

  /** Matches AND timed-out partial matches into one tagged output — the
    * engine's side-output form (SURVEY.md §7.4). */
  def flatSelectWithTimeouts[O: Encoder](
      onMatch: (K, NFA.PatternMatch[T]) => IterableOnce[O],
      onTimeout: (K, NFA.PatternTimeout[T]) => IterableOnce[O]): Dataset[O] =
    Cep.matchPattern[K, T, O](ds, keyFn, tsFn, pattern, sortCols)(onMatch, onTimeout)
}

object PatternStreamOps {
  implicit final class DatasetPatternOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Keyed pattern stream over this dataset (the `CEP.pattern` analog). */
    def matchPattern[K: Encoder](
        keyFn: T => K,
        tsFn: T => Long,
        pattern: Pattern[T],
        sortCols: Seq[Column]): PatternStream[K, T] =
      new PatternStream[K, T](ds, keyFn, tsFn, pattern, sortCols)
  }
}
