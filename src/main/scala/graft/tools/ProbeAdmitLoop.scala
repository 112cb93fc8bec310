package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore}

/** Admission-loop scale rehearsal a decade past sf10 (r15 verdict #2):
  * run [[Dedup.nearDupAdmitLoopFromStore]] (the q206 production path)
  * over a [[ScaleUpDocs]] corpus with MANY batches, timing the corpus
  * sketch+save and every batch's admit+append separately — the knee
  * hunt (q49 lesson: knees are invisible one decade early) for the two
  * masses that grow with the loop:
  *   - the per-batch corpus-side band derivation (|corpus|·bands rows
  *     re-derived from the signature scan every batch — k batches pay
  *     k corpus scans even with the persisted store), and
  *   - the growing-store append lineage (each batch's scan includes
  *     every previous batch's files).
  *
  * Split: resident = replicas [0, maxRep-k], batch i = replica
  * maxRep-k+1+i. Rotation classes repeat every 26 replicas, so most
  * batch docs are EXACT copies of ~replicas/26 resident docs —
  * candidate mass through all 64 bands, verified corpus_dup. Ids ≡ 0
  * (mod 3) get a synthetic md5-word text instead: unique per key
  * id−(id%6), so those arrive in PAIRS — one keep (committed to the
  * store, growing later batches' scans) and one batch_dup. All three
  * verdict paths therefore run at full scale.
  *
  * usage: ProbeAdmitLoop <docsDir> <k> [mem]
  *   mem — also run the in-memory [[Dedup.nearDupAdmitLoop]] for the
  *   same split and assert verdict equality (affordable a decade DOWN;
  *   the store path is the one rehearsed at full scale).
  */
object ProbeAdmitLoop {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = if (args.length > 1) args(1).toInt else 10
    val alsoMem = args.length > 2 && args(2) == "mem"
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
    require(maxRep >= k + 1, s"corpus has ${maxRep + 1} replicas; need > $k")
    val cut = maxRep - k
    val rep = (col("id") / lit(ScaleUp.Off)).cast("long")
    val resident = docs.filter(rep <= cut)
    def synth(c: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(0), lit(9)),
        j => substring(md5(concat((c - c % 6).cast("string"),
          lit(":"), j.cast("string"))), 1, 8)))
    val batches = (1 to k).map { i =>
      docs.filter(rep === cut + i)
        .select(col("id"),
          when(col("id") % 3 === 0, synth(col("id")))
            .otherwise(col("text")).as("text"))
    }

    def tsec[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val nRes = resident.count()
    val store = s"${System.getProperty("java.io.tmpdir")}/graft_probe_admit_${
      ProcessHandle.current().pid()}"
    val (_, sketchS) = tsec {
      IndexStore.saveSig(spark, store,
        Dedup.sigRelation(resident, "id", "text"), "id", 3, 128)
    }
    println(f"""{"probe":"admit_loop","dir":"$dir","n_resident":$nRes,"k":$k,"sketch_save_s":$sketchS%.1f}""")
    val statuses = scala.collection.mutable.ArrayBuffer[DataFrame]()
    batches.zipWithIndex.foreach { case (b, i) =>
      val (st, batchS) = tsec {
        Dedup.nearDupAdmitLoopFromStore(spark, store, Seq(b), "id",
          "text", threshold = 0.5).head
      }
      statuses += st
      val counts = st.groupBy(col("status")).count().collect()
        .map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
        .sorted.mkString(",")
      println(f"""{"batch":$i,"admit_s":$batchS%.1f,$counts}""")
    }
    if (alsoMem) {
      val (memSt, memS) = tsec {
        Dedup.nearDupAdmitLoop(resident, "id", "text", batches, "id",
          "text", threshold = 0.5).map(_.collect().toSet)
      }
      val eq = statuses.map(_.collect().toSet).toSeq == memSt
      println(f"""{"mem_total_s":$memS%.1f,"verdicts_equal":$eq}""")
      require(eq, "store-seeded verdicts != in-memory verdicts")
    }
    graft.TmpDirs.deleteRec(new java.io.File(store))
    spark.stop()
  }
}
