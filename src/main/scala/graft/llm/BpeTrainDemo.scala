package graft.llm

import org.apache.spark.sql.SparkSession

/** One-shot demonstration run for the production-vocabulary BPE claim
  * (SCALING.md): drive [[BpeTrain.learnAdaptive]] to an ACTUAL 32k-merge
  * vocabulary and print measured rounds + wall time, replacing the
  * "~900 vocab-bounded rounds" extrapolation with a number.
  *
  * Two corpora, both reported:
  *
  *   1. `--corpus <dir>`: a real fixture (e.g. the sf1 documents
  *      table). The driver's synthetic corpus has a 31-word vocabulary,
  *      so its merge CEILING is Σ(len−1) over distinct words = 107 —
  *      a 32k ask exhausts there by construction; the run demonstrates
  *      the loud gap-free exhaustion, not 32k.
  *   2. default: a deterministic wide vocabulary (60 000 distinct
  *      12-char words over the 62-char alphabet — ceiling 60 000×11 =
  *      660 000, comfortably above 32 768; Zipf-ish counts via the
  *      word index so tie-breaking is realistic). This is the regime
  *      the 32k claim lives in: real corpora carry 90+ distinct bytes
  *      and vocabulary ceilings far above any production merge table.
  *
  * Not a registry query (the unrolled per-round oracle is readable at 8
  * rounds, not 32k); `BpeTrainSpec` oracle-grades the loop itself.
  * Usage: `sbt "runMain graft.llm.BpeTrainDemo [targetMerges] [--corpus dir]"`
  */
object BpeTrainDemo {
  def main(args: Array[String]): Unit = {
    val target = args.headOption.filterNot(_.startsWith("--"))
      .map(_.toInt).getOrElse(32768)
    val corpus = args.sliding(2).collectFirst {
      case Array("--corpus", d) => d }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.LocalSession(cpus.toInt, "graft-bpe-train-demo")
    val dir = corpus.getOrElse(buildWideCorpus(spark))
    val t0 = System.nanoTime()
    val (merges, rounds) = BpeTrain.learnAdaptive(spark, dir,
      targetMerges = target, k0 = 16, maxK = 512, poolMult = 32)
    val secs = (System.nanoTime() - t0) / 1e9
    // one-line JSON like Bench: greppable, committable to SCALING.md
    println(f"""{"demo":"bpe_train_adaptive","target":$target,""" +
      f""""merges":${merges.length},"rounds":$rounds,"secs":$secs%.1f,""" +
      f""""cpus":$cpus,"corpus":"${dir}"}""")
    spark.stop()
  }

  /** 60k distinct 12-char words over the 62-char alphabet, 100 words per
    * doc — deterministic (seed 7), written once under the fixtures dir. */
  private def buildWideCorpus(spark: SparkSession): String = {
    val sess = spark
    import sess.implicits._
    val dir = graft.core.Fixtures.path("bpetrain_demo32k")
    val done = new java.io.File(s"$dir/documents.parquet")
    if (!done.exists()) {
      val rnd = new scala.util.Random(7)
      val letters =
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
      val words = (0 until 60000).map { _ =>
        (0 until 12).map(_ => letters(rnd.nextInt(letters.length))).mkString
      }.distinct
      // Zipf-ish occurrence skew: word i repeats 1 + 3000/(i+1) times —
      // the head is contended like a real frequency table
      val weighted = words.zipWithIndex.flatMap { case (w, i) =>
        Seq.fill(1 + 3000 / (i + 1))(w) }
      weighted.grouped(100).zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "), "en", "synth")
      }.toSeq.toDF("doc_id", "text", "lang", "source")
        .coalesce(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    dir
  }
}
