package graft

import org.apache.spark.sql.functions._

/** Off-clamp evidence for the corpus-size-derived ANN operating points
  * (VERDICT r16 next-round #6).
  *
  * The derivation rules (AnnGates.operatingPoint: √N cells, N^0.75
  * flat-IVF probe growth, refine ∝ N) are CLAMPED at the sf0.1
  * reference corpus so the pinned gate results stay bit-identical —
  * which means the committed ×10 sweep only evidences them at 20k
  * vectors. This main grows JUST the embeddings table to ×k (default
  * ×100 = 200k vectors, the point where the rules actually bind),
  * using BuildScaled's orthogonal per-replica ±1 sign transform (intra-
  * replica cosines preserved bit-for-bit, cross-replica cosines
  * scrambled — replicas cannot alias), and runs the full AnnGates
  * harness — seven methods × two corpus shapes — with the recall
  * VALUES kept as evidence. ivf2 runs at its FIXED levels by design:
  * the hierarchy, not a parameter ramp, is what absorbs corpus growth.
  *
  * Artifact: SCALE_ANN.json —
  *   {"metric":"ann_offclamp","corpus_n":N,"scale":k,
  *    "op":{"nlist":..,"nprobe_ivf":..,"nprobe_pq":..,"refine":..},
  *    "cells":[{"method":..,"shape":..,"bar":..,"recall":..,"ok":..}],
  *    "ok":<all cells ge bar>,"ann_src_fp":<AnnGates.annSourceFingerprint —
  *    ScaleStampSpec recomputes it so ANN code changes red the stamp
  *    until this harness is re-run>,"build_s":..,"gates_s":..}
  *
  * Env: SPARK_GRAFT_SF_DIR (source, default /root/testdata/sf0.1),
  * SPARK_GRAFT_ANN_SCALE (default 100), SPARK_GRAFT_ANN_OUT
  * (default SCALE_ANN.json), SPARK_GRAFT_CPUS (default: all cores).
  */
object ScaleAnn {
  private def fmt(v: Double): String = f"$v%.4f"

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.get("SPARK_GRAFT_ANN_SCALE").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(100)
    val out = sys.env.getOrElse("SPARK_GRAFT_ANN_OUT", "SCALE_ANN.json")

    // the persisted-MV layer rides along by default: the clustered
    // corpus MV attaches across ScaleAnn runs the same way Bench's MVs
    // do; truth sets and gate results are session-only (AnnGates)
    graft.model.Views.enableDefaultDiskRoot()

    val spark = GraftSession.local()

    // ScaleSweep's stable replica cache, reused (ADVICE r17): keyed by
    // (source listing, code build) so re-runs attach to the built
    // replica — and to every MV fingerprinted off its stable listing —
    // instead of rebuilding. SPARK_GRAFT_SWEEP_FRESH=1 opts back into a
    // throwaway dir, same switch as ScaleSweep.
    val fresh = sys.env.get("SPARK_GRAFT_SWEEP_FRESH").contains("1")
    val dirF = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      if (fresh) s"graft-scaleann-${ProcessHandle.current().pid()}"
      else s"graft-sweep-cache-${graft.model.Views.datasetFingerprint(srcDir)}/ann-x$k")
    val dir = dirF.getAbsolutePath
    val marker = new java.io.File(dirF, "_GRAFT_BUILD_COMPLETE")
    val tb0 = System.nanoTime()
    if (marker.exists()) System.err.println(s"[scaleann] reusing cached x$k replica at $dir")
    else {
      graft.model.Views.rmTree(dirF.toPath)
      BuildScaled.buildScaledTable(spark, srcDir, dir, k, "entities", "embeddings")
      marker.createNewFile(): Unit
    }
    val buildS = (System.nanoTime() - tb0) / 1e9
    System.err.println(f"[scaleann] built x$k embeddings in $buildS%.1fs")

    val emb = graft.model.Tables.embeddings(spark, dir)
    val iso = graft.operators.Similarity.normalized(emb, "vec_id", "embedding")
    // the clustered shape, via the SAME session-MV builder the driver
    // queries use (labels are untouched by replication, so each label
    // cluster grows ×k members — per-cluster population is the axis
    // that stresses cell sizing)
    val clustered = SparkEntry.sessionViews("ann_clustered_corpus")(spark, dir)

    val op = graft.operators.AnnGates.operatingPoint(iso.count())
    System.err.println(s"[scaleann] op point: n=${op.nCorpus} " +
      s"nlist=${op.nlist} nprobe_ivf=${op.nprobeIvf} " +
      s"nprobe_pq=${op.nprobePq} refine=${op.refine} " +
      s"sq_refine=${op.sqRefine}")

    val tg0 = System.nanoTime()
    val cells = graft.operators.AnnGates.gates(spark, "isotropic", iso, dir)
      .unionByName(graft.operators.AnnGates.gates(spark, "clustered",
        clustered, dir + ":clustered"))
      .orderBy(col("method"), col("shape"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    val gatesS = (System.nanoTime() - tg0) / 1e9

    val cellJson = cells.map { case (m, sh, bar, rec, ok) =>
      s"""{"method":"$m","shape":"$sh","bar":${fmt(bar)},""" +
        s""""recall":${fmt(rec)},"ok":$ok}"""
    }.mkString("[", ",", "]")
    val allOk = cells.forall(_._5)
    val json =
      s"""{"metric":"ann_offclamp","unit":"recall","value":${
        fmt(cells.map(_._4).min)},"corpus_n":${op.nCorpus},"scale":$k,""" +
      s""""src":"$srcDir","op":{"nlist":${op.nlist},""" +
      s""""nprobe_ivf":${op.nprobeIvf},"nprobe_pq":${op.nprobePq},""" +
      s""""refine":${op.refine},"sq_refine":${op.sqRefine}},""" +
      s""""cells":$cellJson,"ok":$allOk,""" +
      s""""ann_src_fp":"${graft.operators.AnnGates.annSourceFingerprint()}",""" +
      s""""build_s":${fmt(buildS)},"gates_s":${fmt(gatesS)}}"""
    val tmp = java.nio.file.Paths.get(out + ".tmp")
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(out),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    // cached replicas stay for the next run (that's the point);
    // a FRESH run's throwaway dir is cleaned up as before
    if (fresh) graft.model.Views.rmTree(dirF.toPath)
    spark.sparkContext.setLogLevel("OFF"); spark.stop()
    println(json); System.out.flush()
  }
}
