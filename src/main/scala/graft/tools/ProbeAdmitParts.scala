package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore}

/** Stage-level timing of ONE store-seeded admission step — locates the
  * per-batch O(corpus) cost the ProbeAdmitLoop rehearsal surfaced
  * (450k resident: 21 s/batch vs 5.2 s for the full corpus
  * sketch+save). Times, separately: the corpus-side band derivation
  * (scan __sig → 64 slice-hashes → explode), the band join candidate
  * count, the exact-verify join (scan __sh), and the full admit step.
  *
  * usage: ProbeAdmitParts <docsDir>
  */
object ProbeAdmitParts {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id").as("id"), col("text"))
    val maxRep = docs.agg(max(col("id") / lit(ScaleUp.Off)).cast("long"))
      .head.getLong(0)
    val rep = (col("id") / lit(ScaleUp.Off)).cast("long")
    val resident = docs.filter(rep < maxRep)
    val batch = docs.filter(rep === maxRep)
    val store = s"${System.getProperty("java.io.tmpdir")}/graft_probe_parts_${
      ProcessHandle.current().pid()}"
    def tsec[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"""{"stage":"$tag","s":${(System.nanoTime() - t0) / 1e9}%.1f}""")
      r
    }
    tsec("sketch_save") {
      IndexStore.saveSig(spark, store,
        Dedup.sigRelation(resident, "id", "text"), "id", 3, 128)
    }
    val (_, _, _, sigs) = IndexStore.loadSig(spark, store)
    def bands(df: org.apache.spark.sql.DataFrame, idOut: String) =
      df.select(col("id").as(idOut),
        posexplode(graft.functions.SketchExprs.band_hashes(
          col("__sig"), 64, 2)).as(Seq("__band", "__bh")))
    tsec("corpus_scan_sig_only") {
      sigs.select(col("__sig")).filter(size(col("__sig")) > 0).count()
    }
    tsec("corpus_bands_count") { bands(sigs, "id_b").count() }
    val bSigs = Dedup.sigRelation(batch, "id", "text")
    tsec("batch_sketch") { bSigs.count() }
    val cand = bands(bSigs, "id_a")
      .join(bands(sigs, "id_b"), Seq("__band", "__bh"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .localCheckpoint()
    tsec("cand_band_join") { cand.count() }
    tsec("verify_join") {
      cand
        .join(bSigs.select(col("id").as("id_a"), col("__sh").as("__sha")),
          "id_a")
        .join(sigs.select(col("id").as("id_b"), col("__sh").as("__shb")),
          "id_b")
        .select(graft.functions.VectorExprs
          .sorted_inter_count(col("__sha"), col("__shb")).as("inter"))
        .agg(sum(col("inter"))).head
    }
    tsec("full_admit") {
      Dedup.nearDupAdmitLoopFromStore(spark, store, Seq(batch), "id",
        "text", threshold = 0.5).head.count()
    }
    graft.TmpDirs.deleteRec(new java.io.File(store))
    spark.stop()
  }
}
