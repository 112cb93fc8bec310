package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Value-verification of the SCALED branch of q92's knee-aware LSH
  * dispatch (round-10 verdict item 2): the exact all-pairs DuckDB
  * oracle ceilings at sf1 (~116k vectors), so the scaled-geometry
  * branch — the one that actually runs past the occupancy knee — had
  * only ever been TIMED at sf10, never value-checked. This probe runs
  * the exact q92 pair stage (same params, auto dispatch) over the
  * planted corpus at any dir and reports:
  *
  *  - planted recall: fraction of the planted jittered pairs
  *    (cos ≈ 0.9967, the population the 1.5e-7 design miss rate must
  *    recall) present in the output — floor 0.9, expect ~1.0;
  *  - exact-rescore mismatches: emitted cos values that differ from
  *    the cosine recomputed from the raw planted vectors (must be 0);
  *  - which geometry branch ran (occupancy vs the cap).
  *
  * Usage: runMain graft.tools.ProbeScaledLsh <sfDir>
  */
object ProbeScaledLsh {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val v = graft.QueryFixtures.plantedEmbeddings(base).localCheckpoint()
    val n = v.count()
    val occupancy = n.toDouble / math.pow(2.0, 12)
    val t0 = System.nanoTime()
    // the exact q92 pair stage (q92_semantic_dedup passes these params)
    val (r, b, switched) =
      Similarity.autoLshGeometry(n, 12, 12, 0.9967, 1.5e-7)
    val branch = if (switched) s"scaled ${r}x$b" else "hand 12x12"
    val pairs = Similarity.cosinePairsLsh(v, "vec_id", "e", 0.9, dim = 64,
        r, b)
      .localCheckpoint()
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t0) / 1e9
    // planted ground truth: every %10==0 base id has a jittered twin
    val plantedPairs = base.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 10000000L)).toSet
    val got = pairs.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall =
      (got & plantedPairs).size.toDouble / math.max(1, plantedPairs.size)
    // exact-rescore audit: every emitted cos must equal the value
    // recomputed from the raw planted vectors (round 4 on both)
    val va = v.select(col("vec_id").as("id_a"), col("e").as("__va"))
    val vb = v.select(col("vec_id").as("id_b"), col("e").as("__vb"))
    val mismatches = pairs
      .join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .filter(col("cos") =!=
        round(Similarity.cosine(col("__va"), col("__vb")), 4))
      .count()
    println(f"PROBE scaled-lsh dir=$dir n=$n occupancy=$occupancy%.1f " +
      f"branch=$branch pairs=$nPairs pairs_s=$tPairs%.1f")
    println(f"PROBE scaled-lsh planted=${plantedPairs.size} " +
      f"recall=$recall%.4f (floor 0.9) rescore_mismatches=$mismatches")
    spark.stop()
  }
}
