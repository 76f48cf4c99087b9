package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Empirical scale sweep: materialize k× copies of EVERY input table
  * (disjoint ids, per-copy-perturbed content so dedup/ANN workloads
  * grow k× instead of k²), then time EVERY SparkEntry query at 1×
  * and k× and report the measured scaling exponent
  * log(tk/t1)/log(k). Because the scaled inputs live on disk as
  * ordinary parquet dirs, the sweep needs zero per-query code — each
  * query runs verbatim via its board record's `run(spark, dir)`.
  *
  * Scaling model (copy i of k; copy 0 is the identity so base-
  * constant filters still match):
  *  - events: event_id/user_id offset per copy; symbol (event_type)
  *    prefixed `c<i>` for i>0 — k× symbols over the SAME date range,
  *    so bar/window/dedup group counts scale k× while fixed-cutoff
  *    quality filters (SparkEntry.CutoffTs) keep passing. Queries
  *    that filter to one base symbol/day measure pushdown: they scan
  *    k× data for ~1× work.
  *  - documents: doc_id offset; every token prefixed `c<i>` for i>0,
  *    driving cross-copy Jaccard to 0 — near-dup structure is k× the
  *    1× shape, not one giant k²-pair cluster.
  *  - embeddings: vec_id offset; per-copy deterministic SIGN FLIPS of
  *    the vector dims for i>0 — a diagonal ±1 orthogonal transform,
  *    so intra-copy geometry (every dot product) is EXACTLY preserved
  *    while cross-copy cosines collapse to ~0: ANN/near-dup workloads
  *    grow k×, not k².
  *  - lineitem/orders/customer/supplier/part: join keys offset per
  *    copy (orderkey/custkey/suppkey/partkey move together, so join
  *    selectivity per copy is unchanged); nation/region stay fixed
  *    dimension tables.
  *
  * Protocol: per query, one warm-up then min-of-R (default 3) at 1×
  * and at k× — the same min-of-N discipline as graft.Bench (min-of-2
  * demonstrably cannot separate plan cost from machine load; see
  * BENCHNOTES round-8). k defaults to 10; the dedup/ANN families
  * (the d- and s-queries, whose joint structure is the quadratic
  * risk) run at k=30 from a second scaled dir. Plus the d16-specific check the design
  * claims: with the BATCH fixed, growing the corpus 10× must leave
  * LSH candidate count ~flat (candidates scale with the batch).
  *
  * Output: one JSON line (also written to SPARK_GRAFT_SCALE_OUT,
  * default SCALEBENCH_LOCAL.json) —
  * {"metric":"scale_exponent","queries":{name:{"k":…,"t1":…,"tk":…,
  * "ratio":…,"exp":…}},"d16_check":{…}}. docs/SCALE.md §8 publishes
  * the per-family exponents.
  */
object ScaleBench {

  private val CopyIdOffset = 1000000000L // 1e9: above every base id space

  /** events ×k: same days, k× symbols (prefix), disjoint ids. */
  private def scaledEvents(s: SparkSession, dir: String, k: Int): DataFrame =
    (0 until k).map { i =>
      val e = Tables.events(s, dir)
      if (i == 0) e
      else e
        .withColumn("event_id", col("event_id") + lit(i * 1000L * CopyIdOffset))
        .withColumn("user_id", col("user_id") + lit(i * CopyIdOffset))
        .withColumn("event_type", concat(lit(s"c$i"), col("event_type")))
    }.reduce(_ unionByName _)

  /** documents ×k: disjoint ids, cross-copy Jaccard 0 via token
    * prefixing; n_chars recomputed so derived stats stay consistent.
    */
  private def scaledDocs(s: SparkSession, dir: String, k: Int): DataFrame =
    (0 until k).map { i =>
      val d = Tables.documents(s, dir)
      if (i == 0) d
      else d
        .withColumn("doc_id", col("doc_id") + lit(i * CopyIdOffset))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"c$i$$1"))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)

  /** embeddings ×k: disjoint ids; per-copy diagonal ±1 transform
    * (orthogonal — intra-copy dot products exactly preserved,
    * cross-copy cosines ~0).
    */
  private def scaledEmbs(s: SparkSession, dir: String, k: Int): DataFrame =
    (0 until k).map { i =>
      val e = Tables.embeddings(s, dir)
      if (i == 0) e
      else e
        .withColumn("vec_id", col("vec_id") + lit(i * CopyIdOffset))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> " +
            s"IF(pmod(j * 761 + $i * 503, 1000) < 500, x, -x))"))
    }.reduce(_ unionByName _)

  /** One TPC-H table ×k with its join keys offset in lockstep. */
  private def scaledKeyed(s: SparkSession, dir: String, name: String,
                          keyCols: Seq[String], k: Int): DataFrame =
    (0 until k).map { i =>
      val t = Tables.table(s, dir, name)
      if (i == 0) t
      else keyCols.foldLeft(t) { (df, c) =>
        df.withColumn(c, col(c) + lit(i * CopyIdOffset))
      }
    }.reduce(_ unionByName _)

  /** Materialize a scaled dir: every table the queries read, as
    * ordinary parquet. `kDocs` scales documents/embeddings; `kOther`
    * everything else (nation/region stay 1×: fixed dims).
    */
  def prepare(s: SparkSession, sfDir: String, outDir: String,
              kOther: Int, kDocs: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(s"$outDir/_PREPARED_${kOther}_$kDocs")
    if (fs.exists(done)) return
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    write("events", scaledEvents(s, sfDir, kOther))
    write("documents", scaledDocs(s, sfDir, kDocs))
    write("embeddings", scaledEmbs(s, sfDir, kDocs))
    write("lineitem", scaledKeyed(s, sfDir, "lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey"), kOther))
    write("orders", scaledKeyed(s, sfDir, "orders",
      Seq("o_orderkey", "o_custkey"), kOther))
    write("customer", scaledKeyed(s, sfDir, "customer", Seq("c_custkey"), kOther))
    write("supplier", scaledKeyed(s, sfDir, "supplier", Seq("s_suppkey"), kOther))
    write("part", scaledKeyed(s, sfDir, "part", Seq("p_partkey"), kOther))
    write("nation", Tables.nation(s, sfDir))
    write("region", Tables.region(s, sfDir))
    fs.create(done).close()
  }

  /** The d- and s-families (dedup + ANN) run at the deeper k — their
    * candidate-pair structure is where quadratic blow-ups would hide.
    */
  private def isDedupAnn(name: String): Boolean =
    name.matches("^[ds]\\d.*")

  def main(args: Array[String]): Unit = {
    val board = Board.fromEnv().sortBy(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val kMain = args.headOption.map(_.toInt).getOrElse(10)
    val kDeep = args.drop(1).headOption.map(_.toInt).getOrElse(30)
    val repeats = 3
    val scaleRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALEBENCH_LOCAL.json")
    val spark = SparkEntry.batchSession(defaultCpus = 32)
    spark.range(1000000).selectExpr("sum(id)").collect() // warm JVM

    val mainDir = s"$scaleRoot/k$kMain"
    val deepDir = s"$scaleRoot/k$kDeep"
    System.err.println(s"[scalebench] preparing $mainDir (all tables x$kMain)")
    prepare(spark, sfDir, mainDir, kOther = kMain, kDocs = kMain)
    System.err.println(s"[scalebench] preparing $deepDir (docs/embeddings x$kDeep)")
    prepare(spark, sfDir, deepDir, kOther = 1, kDocs = kDeep)

    def minTime(f: => Long): (Double, Long) = {
      var best = Double.MaxValue; var n = 0L
      (1 to repeats).foreach { _ =>
        val t0 = System.nanoTime(); n = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, n)
    }

    val results = board.flatMap { case BoardQuery(name, _, fn, _) =>
      val (k, dirK) = if (isDedupAnn(name)) (kDeep, deepDir) else (kMain, mainDir)
      try {
        fn(spark, sfDir).count() // warm: codegen + file index
        val (t1, n1) = minTime(fn(spark, sfDir).count())
        val (tk, nk) = minTime(fn(spark, dirK).count())
        val ratio = tk / t1
        val exp = math.log(ratio) / math.log(k)
        System.err.println(f"[scalebench] $name k=$k 1x=$t1%.2fs ($n1 rows) " +
          f"kx=$tk%.2fs ($nk rows) ratio=$ratio%.2f exp=$exp%.2f")
        Some(f""""$name":{"k":$k,"t1":$t1%.3f,"tk":$tk%.3f,""" +
          f""""ratio":$ratio%.2f,"exp":$exp%.3f,"rows1":$n1,"rowsk":$nk}""")
      } catch {
        case e: Throwable =>
          System.err.println(s"[scalebench] $name FAILED: ${e.getMessage}")
          None
      }
    }

    // The d16 design claim, measured: fix the batch, grow the corpus
    // 10×. LSH candidate count (and probe wall) must track the batch —
    // the scaled corpus copies are token-prefixed, so they share no
    // band keys with the batch and add ~0 candidates.
    val d16Check = {
      val batch = Tables.documents(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(4)) === 1)
      val sigs = operators.Dedup.admissionSigs(batch)
      def probe(corpusDir: String): (Double, Long, Long) = {
        val idx = operators.Dedup
          .corpusIndex(Tables.documents(spark, corpusDir)).persist()
        try {
          idx.banded.count() // force the index build OUTSIDE the probe timing
          val cand = operators.Dedup.admissionCandidates(sigs, idx, bands = 8, rows = 2)
          cand.count() // warm
          val t0 = System.nanoTime()
          val n = cand.count()
          val verdicts = operators.Dedup
            .incrementalDedupAgainst(batch, idx, minJaccardE6 = 500000L).count()
          ((System.nanoTime() - t0) / 1e9, n, verdicts)
        } finally idx.unpersist()
      }
      val (t1, c1, v1) = probe(sfDir)
      val (tk, ck, vk) = probe(mainDir)
      System.err.println(f"[scalebench] d16: corpus 1x -> ${kMain}x with batch fixed: " +
        f"candidates $c1 -> $ck, probe $t1%.2fs -> $tk%.2fs")
      f""""d16_check":{"corpus_k":$kMain,"cand1":$c1,"candk":$ck,""" +
        f""""probe_t1":$t1%.3f,"probe_tk":$tk%.3f,"verdicts1":$v1,"verdictsk":$vk}"""
    }

    // Skew hardening, measured (round-9 verdict item): SCALE.md §1
    // claims d12's window-frequency join skew is "AQE skew-join
    // territory" — prove it on a PATHOLOGICAL corpus where one
    // boilerplate paragraph appears in EVERY document, so its window
    // hashes are hot keys touching 100% of docs (the worst case a
    // power-law web corpus produces: shared footers/licenses). With
    // AQE skew-join on (this session's default), growing the skewed
    // corpus k× must keep d12's wall ≤ linear — the hot key's join
    // rows grow k× and AQE splits the oversized partitions; without
    // the split one reducer would absorb the whole hot key and the
    // exponent would drift superlinear.
    val skewCheck = {
      val boiler = "shared boilerplate license footer text common to every single document here"
      def skewed(k: Int): DataFrame =
        (0 until k).map { i =>
          val d = Tables.documents(spark, sfDir)
          val base = if (i == 0) d
          else d
            .withColumn("doc_id", col("doc_id") + lit(i * CopyIdOffset))
            .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"c$i$$1"))
          // Boilerplate stays UN-prefixed in every copy: its windows
          // are the global hot keys; everything else is copy-local.
          base.withColumn("text", concat(lit(boiler + " "), col("text")))
        }.reduce(_ unionByName _)
      def prepareSkew(k: Int): String = {
        val dir = s"$scaleRoot/skew_k$k"
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_PREPARED")))
          {
            skewed(k).write.mode("overwrite").parquet(s"$dir/documents.parquet")
            fs.create(new org.apache.hadoop.fs.Path(s"$dir/_PREPARED")).close()
          }
        dir
      }
      def run(dir: String): (Double, Long) = {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        operators.Dedup.substringDupStats(docs, k = 8).count() // warm
        minTime(operators.Dedup.substringDupStats(docs, k = 8).count())
      }
      val (t1, n1) = run(prepareSkew(1))
      val (tk, nk) = run(prepareSkew(kMain))
      val exp = math.log(tk / t1) / math.log(kMain)
      System.err.println(f"[scalebench] d12_skew k=$kMain 1x=$t1%.2fs ($n1 docs) " +
        f"kx=$tk%.2fs ($nk docs) exp=$exp%.2f (hot window in 100%% of docs)")
      f""""d12_skew_check":{"k":$kMain,"t1":$t1%.3f,"tk":$tk%.3f,""" +
        f""""exp":$exp%.3f,"rows1":$n1,"rowsk":$nk}"""
    }

    val line = s"""{"metric":"scale_exponent","kMain":$kMain,"kDeep":$kDeep,""" +
      s""""repeats":$repeats,"sf":"$sfDir",""" +
      s""""queries":${results.mkString("{", ",", "}")},$d16Check,$skewCheck}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (line + "\n").getBytes("UTF-8"))
    } catch {
      case e: Exception =>
        System.err.println(s"[scalebench] could not write $outFile: ${e.getMessage}")
    }
    println(line)
    spark.stop()
  }
}
