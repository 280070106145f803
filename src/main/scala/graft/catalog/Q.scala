package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.immutable.VectorMap

/** How the driver checks one query's output. There is no default: a query
  * that has neither an oracle nor a named reason does not compile. */
sealed trait Check

/** Hash-checked against this DuckDB SQL over the same input tables. */
final case class Oracle(sql: String) extends Check

/** Checked for rows only, because no portable SQL oracle can exist. */
final case class RowsOnly(reason: String) extends Check {
  require(reason.trim.nonEmpty, "a rows-only query must name its reason")
}

/** The reasons a query ships without an oracle. Each query's own comment
  * names the spec that pins its contract instead. */
object RowsOnly {
  val Sketch = RowsOnly("sketch estimates (HLL++, percentile_approx) are engine-specific")
  /** Each tier also has an exact point-mass hash gate (q221 flat PQ, q222
    * OPQ, q223 IVF-PQ, q224 persisted index, q225 salted join). q207's
    * balanced split + Procrustes fixpoint is not provably stable across
    * SVD sign conventions, so it has no such gate. */
  val LloydFit = RowsOnly("Lloyd-fit codebooks average floats in engine-specific order")
  val DriverLoopFit = RowsOnly("iterative driver-loop tokenizer fit with no SQL form")
  val LatticeDp = RowsOnly("Viterbi/FFBS lattice DPs have no SQL form")
  val Deflate = RowsOnly("DEFLATE output bytes depend on the zlib version")
  val Spectral = RowsOnly("the Jacobi eigendecomposition has no SQL form")
}

/** One registered query: its name, how to build it from a session and an
  * sf directory, and how its output is checked. */
final case class Q(name: String, build: (SparkSession, String) => DataFrame, check: Check)

object Q {
  /** `entries` keyed by name in their given order; a repeated name throws
    * (a map literal would silently keep the last one). */
  def index(entries: Seq[Q]): VectorMap[String, Q] = {
    val repeated = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty, s"query names registered twice: ${repeated.toSeq.sorted.mkString(", ")}")
    VectorMap.from(entries.map(q => q.name -> q))
  }
}
