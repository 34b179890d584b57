package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.floor

/** Shared operator-level helpers. */
package object operators {

  /** Deterministic fixed-point rounding for hash-compared doubles:
    * floor(x·10ᵈ + 0.5)/10ᵈ. `round(x, d)` is NOT engine-portable —
    * Spark evaluates it as exact-binary BigDecimal HALF_UP while DuckDB
    * rounds in double arithmetic, so a value near a decimal midpoint
    * can round differently (caught at sf0.1: one quality_score of
    * ~0.5138685 flipped between 0.513868 and 0.513869). This
    * formulation is the SAME double multiply/add/floor on both engines
    * (the oracle SQL spells out the identical expression), so parity is
    * bit-exact. Ties round toward +∞.
    */
  private[operators] def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
  private[operators] def r4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4
}
