package graft.tools

import org.apache.spark.sql.functions._

import graft.{Bench, Harness, Tables}

/** The 10× scale self-test: run the scale-critical operator fleet at the
  * driver's sf0.1 and at a [[ScaleData]]-derived ~sf1, and report each
  * operator's measured cost-growth exponent α (cost ∝ N^α) for wall-clock,
  * output rows, input bytes, and shuffle-write bytes.
  *
  * What "scales" must mean in numbers (recorded in COVERAGE.md):
  *  - the dedup fleet (b31 LSH, b40 skew-guarded LSH, b47 substring) and
  *    the DML fleet (b57 DV merge) are LINEAR: α ≈ 1 on rows/bytes, wall
  *    within a slack band of 1 (local wall inherits the fixed per-query
  *    floor, which deflates α at these sizes);
  *  - ANN serving follows the production sizing rule nCells ∝ N (constant
  *    per-cell mass): index build is linear, a single probe query is
  *    CONSTANT (α ≈ 0 — reads nProbe cells of unchanged size no matter
  *    the corpus), and all-corpus mining (b53) is linear (×N queries of
  *    constant work), NOT the ×N² a flat layout would give.
  *
  * Pair/row-count exponents are the load-bearing ones: they are exact
  * mechanism counts, immune to the ±30% machine-load band that wall-clock
  * carries (CLAUDE.md), and a superlinear pair count is exactly how the
  * guarded paths (b40's maxBucket chain cap) would fail first at 100 TB.
  *
  * Usage: `ScaleRun <smallDir> <bigDir> [factor] [op prefix...]` — bigDir
  * from [[ScaleData]]. Runs each op 3× per SF, takes min wall; rows and
  * byte metrics are the last run's, byte metrics from [[Harness.meter]].
  */
object ScaleRun {
  final case class Obs(name: String, secs: Double, rows: Long, cost: Harness.Cost)

  def main(args: Array[String]): Unit = {
    val small = args(0)
    val big = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val only: Set[String] = args.drop(3).toSet
    val spark = Harness.session(Harness.cpus)

    def timed(name: String, runs: Int = 3)(act: () => Long): Option[Obs] =
      Option.when(only.isEmpty || only.exists(name.startsWith)) {
        val passes = (1 to runs).map { _ =>
          val ((rows, secs), cost) = Harness.meter(spark) {
            val t0 = System.nanoTime()
            val rows = act()
            (rows, (System.nanoTime() - t0) / 1e9)
          }
          Obs(name, secs, rows, cost)
        }
        passes.last.copy(secs = passes.map(_.secs).min)
      }

    def fleet(dir: String, mult: Int): Seq[Obs] = {
      import graft.ext.AnnIndex
      val nCells = 16 * mult
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val out = Seq.newBuilder[Obs]

      def bench(op: String, entry: String): Option[Obs] =
        timed(op)(() => Bench.fastVariants(entry)(spark, dir).count())
      out ++= bench("b31_minhash_lsh", "b31_minhash_lsh_fast")
      out ++= bench("b40_minhash_skew", "b40_minhash_skew")
      out ++= bench("b47_substring_dedup", "b47_substring_dedup_fast")

      out ++= timed("b61_dsir")(() =>
        graft.ext.Selection.dsirWeights(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", buckets = 4096, fast = true).count())

      out ++= timed("b62_classifier")(() => {
        val model = graft.ext.Classifier.train(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          "doc_id", "text", buckets = 4096, iters = 3)
        // the score sum keeps the per-row score column from being pruned
        graft.ext.Classifier.score(docs, "doc_id", "text", model)
          .agg(count(lit(1)), sum(col("score"))).head().getLong(0)
      })

      // ANN: production sizing — nCells grows with the corpus so per-cell
      // mass stays constant; build once per (dir, run)
      var annPath: String = null
      out ++= timed("b50_ann_build")(() => {
        annPath = Harness.tmp("ann")
        AnnIndex.build(emb, "vec_id", "embedding", annPath,
          nCells = nCells, extraCols = Seq("label"))
        emb.count()
      })
      val wantsAnn = only.isEmpty || only.exists(o =>
        "b50_ann_query".startsWith(o) || "b53_hard_negatives".startsWith(o))
      if (annPath == null && wantsAnn) {
        annPath = Harness.tmp("ann")
        AnnIndex.build(emb, "vec_id", "embedding", annPath,
          nCells = nCells, extraCols = Seq("label"))
      }
      if (wantsAnn) {
        val q = emb.orderBy("vec_id").select(col("embedding"))
          .head().getSeq[Float](0).map(_.toDouble).toArray
        out ++= timed("b50_ann_query", runs = 5)(() =>
          AnnIndex.query(spark, annPath, q, nProbe = 2, k = 10).count())
        out ++= timed("b53_hard_negatives")(() =>
          AnnIndex.hardNegatives(spark, annPath, emb, "vec_id", "embedding",
            "label", nProbe = 2, k = 10).count())
      }

      // embedding decontamination: the EVAL side is a FIXED benchmark
      // (always the small dir's slice — an eval suite does not grow with
      // the training corpus), so work = |candidates|·|eval| dot products
      // must grow linearly with the corpus, never ×N²
      out ++= timed("b65_embed_decontam")(() =>
        graft.ext.Similarity.decontaminate(
          emb.filter(col("vec_id") % 10 =!= 0),
          Tables.embeddings(spark, small).filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", 0.45).count())

      // identity-column table creation: the gap-free assignment is one
      // localCheckpoint + count + zipWithIndex map — must be linear
      out ++= timed("b66_identity_create")(() => {
        val p = Harness.tmp("ident") + "/t"
        graft.io.DeltaWrite.writeDeltaTableIdentity(
          Tables.orders(spark, dir).select(col("o_orderstatus"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
          p, "rid")
        graft.io.DeltaRead.readDeltaTable(spark, p).count()
      })

      // streaming ANN maintenance epoch: a FIXED 500-vector batch through
      // processBatch against a corpus-sized index — epoch cost must track
      // the BATCH, not the corpus (append assigns against centroids +
      // writes batch files; the cellStats drift monitor is footer-cheap
      // but lists ∝ files, the one component allowed to grow)
      val wantsMaintain = only.isEmpty || only.exists("b67_ann_maintain_epoch".startsWith)
      var maintPath: String = null
      var maintEpoch = 0L
      if (wantsMaintain) {
        maintPath = Harness.tmp("annm")
        AnnIndex.build(emb, "vec_id", "embedding", maintPath, nCells = nCells)
      }
      out ++= timed("b67_ann_maintain_epoch")(() => {
        val batch = Tables.embeddings(spark, small).limit(500)
          .select((col("vec_id") + lit(2000000000L) +
            lit(maintEpoch * 1000000L)).as("vec_id"), col("embedding"))
        graft.streaming.AnnMaintainSink.processBatch(batch, maintEpoch,
          "vec_id", "embedding", maintPath, maxBalance = 1e9,
          minBalance = 0.0, refreshEvery = 0, errorFactor = 1.05,
          extraCols = Nil)
        maintEpoch += 1
        500L
      })

      // standing DV-merge table, built in the first run (which best-of-3
      // discards): the merges are the timed verb
      lazy val dml = Bench.ordersDelta(spark, dir, "dv")
      out ++= timed("b57_merge_upsert_dv")(() => {
        val src = Bench.ordersCents(spark, dir).filter(col("o_orderkey") % 100 === 0)
          .withColumn("cents", col("cents") + 1)
        graft.io.DeltaMerge.merge(spark, dml, src, Seq("o_orderkey"),
          useDeletionVectors = true)
        graft.io.DeltaRead.readDeltaTable(spark, dml).count()
      })

      // CDC fleet: change-diff service + one materialized-view epoch —
      // the round-11 surface. DML touches 1% of rows, so changed-rows
      // mechanisms must grow linearly with N (α_rows ≈ 1 for the diff;
      // the view epoch's input tracks changed files, its shuffle the
      // touched keys — never corpus²)
      val wantsCdc = only.isEmpty || only.exists(o =>
        "b60_change_diff".startsWith(o) || "b60_view_epoch".startsWith(o))
      val cdcDir = Harness.tmp("cdc") + "/orders_cdc"
      if (wantsCdc) {
        graft.io.DeltaWrite.writeDeltaTable(
          Tables.orders(spark, dir).select(col("o_orderkey"),
            col("o_orderstatus").as("grp"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
          cdcDir, "append")                                           // v0
        graft.io.DeltaMerge.deleteWhereDv(spark, cdcDir,
          col("o_orderkey") % 100 === 0)                              // v1
      }
      // bounded-state heavy hitters: buffers hold <= capacity counters,
      // so shuffle bytes must stay ~CONSTANT under 10x corpus growth
      // (the exact explode->groupBy form's shuffle grows with tokens)
      out ++= timed("b63_heavy_hitters")(() =>
        Tables.documents(spark, dir)
          .agg(graft.ext.TextAnalysis.heavyHitters(col("text"), 64).as("hh"))
          .select(explode(col("hh"))).count())

      out ++= timed("b60_change_diff")(() =>
        graft.io.DeltaRead.changeDiff(spark, cdcDir, 0L).count())
      out ++= timed("b60_view_epoch")(() => {
        val v = Harness.tmp("cview") + "/view"
        graft.streaming.ChangeViewSink.createView(spark, v,
          Seq(graft.io.DeltaRead.readDeltaTable(spark, cdcDir).schema("grp")))
        graft.streaming.ChangeViewSink.applyBatch(
          graft.io.DeltaRead.changeDiff(spark, cdcDir, -1L),
          v, Seq("grp"), "cents", appId = "b60", batchId = 0L,
          sourcePath = Some(cdcDir))
        graft.io.DeltaRead.readDeltaTable(spark, v).count()
      })
      // CDC→ANN maintenance epoch: a FIXED 500-row insert-only change
      // batch through AnnCdcSink.processBatch against a corpus-sized
      // index — the steady-state CDC workload must track the BATCH (pure
      // append path; the delete pass only runs on epochs with deletes,
      // where an id-pushed pruned scan is the documented takedown cost)
      val wantsCdcAnn = only.isEmpty || only.exists("b73_ann_cdc_epoch".startsWith)
      var cdcAnnPath: String = null
      var cdcAnnEpoch = 0L
      if (wantsCdcAnn) {
        cdcAnnPath = Harness.tmp("anncdc")
        graft.ext.AnnIndex.build(emb, "vec_id", "embedding", cdcAnnPath,
          nCells = nCells)
      }
      out ++= timed("b73_ann_cdc_epoch")(() => {
        val batch = Tables.embeddings(spark, small).limit(500)
          .select((col("vec_id") + lit(3000000000L) +
            lit(cdcAnnEpoch * 1000000L)).as("vec_id"), col("embedding"),
            lit("insert").as("_change_type"),
            lit(cdcAnnEpoch + 1).as("_commit_version"))
        graft.streaming.AnnCdcSink.processBatch(batch, cdcAnnEpoch,
          "vec_id", "embedding", cdcAnnPath)
        cdcAnnEpoch += 1
        500L
      })

      // CONVERT TO DELTA: file COUNT is the scale axis (the op's 100 TB
      // cost driver is footer round-trips, not bytes). The footer pass is
      // distributed (mapPartitions over the file list), so local wall must
      // grow FAR below the file-count exponent — a serial driver loop
      // would pin a_wall at 1 by construction.
      val nFiles = 150 * mult
      val wantsConvert = only.isEmpty || only.exists("b69_convert_footers".startsWith)
      var convDir: String = null
      if (wantsConvert) {
        convDir = Harness.tmp("conv") + "/t"
        spark.range(nFiles.toLong * 20)
          .select(col("id"), (col("id") % 7).cast("string").as("s"))
          .repartition(nFiles).write.parquet(convDir)
      }
      out ++= timed("b69_convert_footers", runs = 2)(() => {
        val lg = new org.apache.hadoop.fs.Path(convDir, "_delta_log")
        val fs = lg.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(lg, true)
        graft.io.DeltaWrite.convertToDelta(spark, convDir)
        nFiles.toLong
      })

      out.result()
    }

    println(s"== small fleet: $small ==")
    val s = fleet(small, 1)
    println(s"== big fleet: $big (factor $factor) ==")
    val b = fleet(big, factor)

    def alpha(a: Double, bb: Double): Double =
      math.log(bb / a) / math.log(factor.toDouble)
    val lnF = "%.2f"
    println(f"${"op"}%-22s ${"t_sm"}%7s ${"t_big"}%7s ${"a_wall"}%6s ${"rows_sm"}%9s ${"rows_big"}%9s ${"a_rows"}%6s ${"a_in"}%5s ${"a_shuf"}%6s")
    val rows = s.zip(b).map { case (o1, o2) =>
      val aWall = alpha(o1.secs, o2.secs)
      val aRows = if (o1.rows > 0) alpha(o1.rows.toDouble, o2.rows.toDouble) else 0.0
      val (in1, in2) = (o1.cost.inputBytes, o2.cost.inputBytes)
      val (sh1, sh2) = (o1.cost.shuffleBytes, o2.cost.shuffleBytes)
      val aIn = if (in1 > 0) alpha(in1.toDouble, in2.toDouble) else 0.0
      val aSh = if (sh1 > 0) alpha(sh1.toDouble, sh2.toDouble) else 0.0
      println(f"${o1.name}%-22s ${o1.secs}%7.2f ${o2.secs}%7.2f ${lnF.format(aWall)}%6s ${o1.rows}%9d ${o2.rows}%9d ${lnF.format(aRows)}%6s ${lnF.format(aIn)}%5s ${lnF.format(aSh)}%6s")
      s"""{"op":"${o1.name}","t_small":${o1.secs},"t_big":${o2.secs},"a_wall":${lnF.format(aWall)},"rows_small":${o1.rows},"rows_big":${o2.rows},"a_rows":${lnF.format(aRows)},"in_small":$in1,"in_big":$in2,"a_input":${lnF.format(aIn)},"sh_small":$sh1,"sh_big":$sh2,"a_shuffle":${lnF.format(aSh)}}"""
    }
    println("[" + rows.mkString(",\n ") + "]")
    spark.stop()
  }
}
