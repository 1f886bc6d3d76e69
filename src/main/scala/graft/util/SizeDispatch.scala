package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

/** The "small enough? solve on the driver : run the distributed loop"
  * decision shared by the iterative kernels (the IRLS fits, PageRank,
  * connected components). Each of them pays ~1–3 jobs per iteration in the
  * loop, which is pure scheduler latency on a small input; under the cap
  * the whole fit runs as driver arithmetic over the collected rows, and
  * the driver twin is bit-identical to the loop (GlmLocalFitSpec,
  * DifferentialSpec pin both regimes at cap−1, cap and cap+1).
  *
  * One bounded `limit(cap + 1)` collect both decides AND delivers: no
  * count job, and driver state is bounded by the cap, never the corpus.
  */
object SizeDispatch {

  /** Default cap, in rows: at 2²⁰ rows of a few boxed columns the
    * collected sample is realistically a few hundred MB of driver heap
    * (more for string ids) — budget driver memory accordingly when
    * raising it. */
  val DefaultCap: Int = 1 << 20

  /** The rows of `df` when there are at most `cap` of them and every one
    * passes `local` (the caller's fall-through rule for inputs whose
    * driver twin would disagree with the loop, e.g. null keys); `None`
    * sends the caller to its distributed path. `cap <= 0` always returns
    * `None` without running a job — the way specs force the loop. */
  def collectIfSmall(df: DataFrame, cap: Int,
                     local: Row => Boolean = _ => true): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      val rows = df.limit(cap + 1).collect()
      if (rows.length <= cap && rows.forall(local)) Some(rows) else None
    }

  /** Total order over the boxed values of a node-id column, for the
    * driver twins that sort their output by node; `None` for a type they
    * do not support, which falls through to the loop. */
  def keyOrdering(keyType: DataType): Option[Ordering[Any]] = keyType match {
    case LongType    => Some(Ordering.Long.on((x: Any) => x.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.Int.on((x: Any) => x.asInstanceOf[Int]))
    case StringType  => Some(Ordering.String.on((x: Any) => x.asInstanceOf[String]))
    case _           => None
  }
}
