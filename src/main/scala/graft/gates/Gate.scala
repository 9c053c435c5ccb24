package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered gate: a Spark query body over the parquet tables in
  * a directory, and its DuckDB oracle over the same tables. The oracle
  * check runs both and hash-matches the two results.
  *
  * Determinism rules for oracle hash-matching:
  *   - never sum raw doubles (addition order differs across engines);
  *     cast per-value to a fixed-scale DECIMAL first — double→decimal
  *     rounding ties are unreachable (no binary double equals a
  *     x.5·10^-s decimal boundary), so both engines round identically
  *     and decimal aggregation is exact;
  *   - alias every computed column identically on both sides;
  *   - ORDER BY deterministic keys on both sides.
  *
  * The oracle text is built on its first read, not when the gate is
  * registered: looking a body up never pays for the oracles.
  */
final class Gate(
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    oracleText: => String) {
  lazy val oracle: String = oracleText
}

object Gate {

  def apply(name: String, run: (SparkSession, String) => DataFrame,
      oracle: => String): Gate = new Gate(name, run, oracle)

  /** Every registered gate, family by family. */
  def all: Seq[Gate] = Seq(RelationalGates.gates, LoaderGates.gates,
    DedupGates.gates, AnnGates.gates, EvalGates.gates, FunctionsGates.gates,
    MultimodalGates.gates, PlansGates.gates, PipelineGates.gates,
    SourcesGates.gates, StreamingGates.gates, TextGates.gates).flatten

  /** The gates by name. A name registered twice is an error that names
    * it: a map literal would silently keep the last one.
    */
  def byName(gates: Seq[Gate]): Map[String, Gate] = {
    val twice = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(twice.isEmpty, s"gate names registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
