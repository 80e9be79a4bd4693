package graft

/** Materialize a grown-entity (or density) replica of an sf dir to disk
  * so the DuckDB oracle can crosscheck correctness AT THE SECOND SCALE
  * POINT — the sweep (ScaleSweep) measures time at ×1/×10, this makes
  * the same ×10 tables available to `Verify` + `tools/crosscheck.py`,
  * turning the scale evidence from timed-only into hash-checked.
  *
  * Usage: runMain graft.BuildScaled <srcSfDir> <outDir> <k> [axis]
  */
object BuildScaled {
  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val k = args(2).toInt
    val axis = if (args.length > 3) args(3) else "entities"
    val spark = GraftSession.local()
    ScaleBench.buildScaled(spark, src, out, k, axis)
    spark.stop()
  }
}
