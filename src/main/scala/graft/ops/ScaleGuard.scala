package graft.ops

import org.apache.spark.sql.SparkSession

/** Thrown by [[ScaleGuard.check]] when a demonstration-scale configuration
  * is pointed at a corpus beyond its threshold. A DEDICATED type (rather
  * than a bare IllegalStateException) so sweep harnesses classify a guard
  * refusal by CLASS, not by message substring — an unrelated failure that
  * happens to quote the guard's message must not be silently counted as a
  * skip (r12 advice item).
  */
final class ScaleGuardRefusal(message: String) extends IllegalStateException(message)

/** Fail-fast pre-flight guard for DEMONSTRATION-SCALE query configurations.
  *
  * Two registry queries are tuned for the bench corpus and have a
  * documented quadratic/OOM wall at corpus scale (their scaladocs derive
  * the sizing rules):
  *
  *  - q_embedding_neardup (8-bit SRP bands): candidate pairs ~N²·bands/2^b
  *    — quadratic in N at fixed band width. Scale twin:
  *    q_embedding_neardup_scaled (16-bit bands, b ∝ log₂N).
  *  - q_semdedup (fixed k = 64 centroids): within-cluster pair volume
  *    Σ|c|² ≈ N²/k — quadratic in N at fixed k. Scale twins:
  *    q_semdedup_scaled (k ∝ N) and q_semdedup_ivf.
  *
  * Before this guard the walls lived in scaladoc only: a user pointing the
  * demo config at a real corpus got an OOM ~10 minutes in, not an error.
  * The guard sums the row counts in the input table's parquet footers on
  * the driver ([[graft.Tables.rowCount]]: no Spark job, no data scan, so
  * nothing is worth memoizing) and throws a [[ScaleGuardRefusal]] naming
  * the sizing rule and the scale-correct twin when the corpus exceeds the
  * demonstration threshold.
  *
  * Knobs (session conf; malformed values fail naming the key, they do not
  * surface as a bare NumberFormatException from the guts of the guard):
  *  - `spark.graft.allowDemoScale=true` skips the guard entirely — the
  *    explicit "I know, run it anyway" escape hatch (also how a test or a
  *    deliberate small-slice run on a big session can opt out).
  *  - `spark.graft.demoScaleMaxRows=<n>` overrides the default threshold
  *    (50 000 rows — where the 8-bit band config already implies ~10⁸
  *    candidate pairs and the fixed-k=64 config ~4·10⁷; both measured
  *    hour-scale/OOM at 200 k in the 100× rehearsal). Lowering it is how
  *    the guard's own spec fires the failure without 50 k real rows.
  */
object ScaleGuard {
  /** Session-conf flag: "true" → demo-scale configs run at any size. */
  val AllowKey = "spark.graft.allowDemoScale"
  /** Session-conf override for the demonstration-scale row threshold. */
  val MaxRowsKey = "spark.graft.demoScaleMaxRows"
  /** Default demonstration-scale threshold (rows of the guarded input). */
  val DefaultMaxRows = 50000L

  /** Throw unless the parquet table at `path` is demonstration-sized or
    * the session opted out.
    *
    * @param path      the table whose row count drives the quadratic term
    * @param queryName the demo-scale registry query being guarded
    * @param rule      one-line sizing rule (why fixed parameters go
    *                  quadratic), quoted in the error
    * @param twin      the scale-correct registry twin to run instead
    */
  def check(spark: SparkSession, path: String, queryName: String, rule: String,
            twin: String): Unit = {
    val conf = spark.conf
    val allow = conf.getOption(AllowKey).map { v =>
      v.toBooleanOption.getOrElse(throw new IllegalArgumentException(
        s"$AllowKey must be true or false, got '$v'"))
    }.getOrElse(false)
    if (allow) return
    val maxRows = conf.getOption(MaxRowsKey).map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$MaxRowsKey must be an integer row count, got '$v'"))
    }.getOrElse(DefaultMaxRows)
    val n = graft.Tables.rowCount(spark, path)
    if (n > maxRows) throw new ScaleGuardRefusal(
      s"$queryName is a DEMONSTRATION-SCALE configuration: input has $n rows " +
        s"(> $maxRows). $rule. Run the scale-correct twin $twin instead, or " +
        s"set ${AllowKey}=true to run this config anyway " +
        s"(${MaxRowsKey} overrides the threshold).")
  }
}
