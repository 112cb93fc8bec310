package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Similarity}

/** Two-level IVF BUILD measurement past the flat inline cap (r15
  * verdict #4): the q195 store contract routes n > 4096² to a
  * persisted assignment, but the flat assignment is itself
  * O(n·nlist·dim) — hours at 20M×4096. This probe measures the
  * [[Similarity.IvfIndex2]] build path end-to-end on a
  * [[ScaleUpEmbeddingsHard]] fixture (non-saturating neighbors):
  * train2, assign+save (THE build), serve-from-store for the fixed
  * 40-query panel, and recall@5 against brute truth at a probed
  * fraction matched to the flat geometry's nprobe/nlist = 1/8.
  *
  * usage: ProbeIvf2 <embDir> [kSup:kChild,...]
  */
object ProbeIvf2 {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val combos: Seq[(Int, Int)] =
      if (args.length > 1) args(1).split(",").toSeq.map { c =>
        val Array(a, b) = c.split(":"); (a.toInt, b.toInt)
      } else Seq((16, 32))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.driver.memory",
        sys.env.getOrElse("SPARK_DRIVER_MEM", "16g"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def tsec[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val n = emb.count()
    val q = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2500)
      .localCheckpoint()
    val nq = q.count()
    val (idx, tTrain) = tsec {
      Similarity.IvfIndex2.train(emb, "vec_id", "embedding",
        nsup = 64, childrenPerSup = 64)
    }
    val store = s"${System.getProperty("java.io.tmpdir")}/graft_probe_ivf2_${
      ProcessHandle.current().pid()}"
    val (_, tBuild) = tsec {
      IndexStore.saveIvf2(spark, store, idx,
        Similarity.ivf2Assign(emb, "vec_id", "embedding", idx),
        "vec_id", combos.head._1, combos.head._2)
    }
    println(f"""{"probe":"ivf2","dir":"$dir","n":$n,"panel":$nq,""" +
      f""""nsup":64,"childrenPerSup":64,"train_s":$tTrain%.1f,""" +
      f""""assign_save_s":$tBuild%.1f}""")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "match_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (brute, tBrute) = tsec {
      pairs(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    }
    println(f"""{"probe":"ivf2","stage":"brute","pairs":${brute.size},"s":$tBrute%.1f}""")
    val (loaded, _, _, assigned) = IndexStore.loadIvf2(spark, store)
    combos.foreach { case (kSup, kChild) =>
      val (got, tServe) = tsec {
        pairs(Similarity.ivf2TopK(q, emb, "vec_id", "embedding", 5,
          loaded, assigned, kSup, kChild))
      }
      val recall =
        if (brute.isEmpty) 0.0
        else (brute & got).size.toDouble / brute.size
      println(f"""{"probe":"ivf2","kSup":$kSup,"kChild":$kChild,""" +
        f""""frac":${kSup * kChild / 4096.0}%.4f,"serve_s":$tServe%.1f,""" +
        f""""recall_at5":$recall%.3f}""")
    }
    graft.TmpDirs.deleteRec(new java.io.File(store))
    spark.stop()
  }
}
