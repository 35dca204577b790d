package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication kernels for training-data pipelines: exact (hash-groupBy),
  * word-shingling, MinHash signatures + LSH banding for near-dup candidate
  * generation, n-gram Jaccard verification, and SimHash.
  *
  * Two hash families:
  *   - md5-based ("oracle" variants): reproducible in any engine (the DuckDB
  *     correctness gate runs the identical algorithm in SQL);
  *   - xxhash64-based ("fast" variants): one codegen'd 64-bit hash per
  *     shingle, the one to use at 100 TB.
  *
  * Scale design: the LSH pipeline is shuffle-minimal — one explode+shuffle on
  * (band, bandHash) to find candidates, one join back for verification. No
  * driver materialization; candidate volume is bounded by band width, not by
  * n², and hot buckets can be salted by widening `bands`.
  */
object Dedup {

  /** Exact duplicate groups: content hash → (representative id, copy count).
    * At scale the groupBy shuffles md5 keys (16 bytes), never the text.
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles of a text column; docs with fewer than n
    * tokens yield an empty set.
    */
  def shingles(text: Column, n: Int): Column =
    // the token array MUST be let-bound: HOF lambdas run interpreted, so
    // an unbound `toks` re-tokenizes the text at every element_at
    // reference — n × |shingles| re-evaluations per row (measured 8s of
    // b40's 14s before binding; see `bind`)
    bind(TextAnalysis.tokens(text)) { toks =>
      val grams = transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
      array_distinct(when(size(toks) >= n, grams).otherwise(array().cast("array<string>")))
    }

  /** Let-binding for column expressions: evaluates `c` ONCE per row and
    * feeds the bound value to `f`. Catalyst's CollapseProject inlines
    * projected expressions into every use site, and higher-order functions
    * run interpreted (no codegen, no common-subexpression elimination) — so
    * without binding, a k-wide minhash re-evaluates its shingle-set argument
    * k times. Expressions have no `let`; a 1-element-array transform is one.
    */
  private def bind(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** k-wide MinHash signature (md5 family): element j is the lexicographic
    * minimum of md5("mh%02d:" + shingle). Engine-portable and deterministic.
    */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    bind(shingleSet) { sh =>
      array(Seq.tabulate(k) { j =>
        array_min(transform(sh, s => md5(concat(lit(f"mh$j%02d:"), s))))
      }: _*)
    }

  /** Fast-family banded MinHash: the native one-pass Catalyst expression
    * (graft.functions.HashExpressions.MinHashBands) straight over the token
    * array — shingling happens inside the expression, no intermediate
    * shingle strings. The variant for real scale. Requires the
    * graft.GraftExtensions function registrations.
    */
  def minhashBandsFast(tokens: Column, shingleN: Int, k: Int, bands: Int): Column =
    call_function("graft_minhash_bands", tokens, lit(shingleN), lit(k), lit(bands))

  /** LSH band hashes over a signature: `bands` hashes of `rowsPerBand`
    * consecutive signature elements each. Two docs sharing any band hash are
    * candidates. md5-of-joined-strings so the DuckDB oracle can mirror it.
    */
  def bandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column =
    bind(signature) { sg =>
      array(Seq.tabulate(bands) { b =>
        md5(concat_ws("|", slice(sg, b * rowsPerBand + 1, rowsPerBand)))
      }: _*)
    }


  /** Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Candidate pairs from banded signatures: explode (bandIdx, bandHash),
    * self-join on both, keep id_a < id_b, distinct. The only shuffle keyed by
    * band hash — the core LSH trick that avoids the n² pair space.
    *
    * HOT-BUCKET GUARD (`maxBucket`): a bucket of b members contributes
    * b²/2 pairs — one 10k-copy near-dup family is 50M pairs out of a
    * single task, the one skew that breaks banded LSH at corpus scale.
    * Buckets above `maxBucket` therefore emit a sorted id CHAIN (b-1
    * edges) instead of all pairs: every member still lands in the same
    * connected component OF THE CANDIDATE GRAPH (transitivity supplies the
    * rest — for UNVERIFIED candidates dupClusters semantics are unchanged;
    * after per-edge verification a failed chain edge can disconnect a
    * member, see the [[minhashLshPairs]] recall caveat), pair volume in
    * the hot bucket drops from quadratic to linear, and the straggler task
    * disappears. Buckets at
    * or under the cap keep exact all-pairs semantics — at oracle scale
    * nothing changes.
    */
  def candidatePairs(df: DataFrame, idCol: String, bandsCol: String,
      maxBucket: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = df.select(col(idCol).as("id"), posexplode(col(bandsCol)).as(Seq("band", "h")))
    val bucket = Window.partitionBy(col("band"), col("h"))
    val sized = exploded.withColumn("__bn", count(lit(1)).over(bucket))
    val small = sized.filter(col("__bn") <= maxBucket).drop("__bn")
    val allPairs = small.as("a")
      .join(small.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val chained = sized.filter(col("__bn") > maxBucket)
      .withColumn("__nxt", lead(col("id"), 1).over(bucket.orderBy(col("id"))))
      .filter(col("__nxt").isNotNull)
      .select(col("id").as("id_a"), col("__nxt").as("id_b"))
    allPairs.unionByName(chained).distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → candidate
    * pairs → exact-Jaccard verification at `threshold`. Returns
    * (id_a, id_b, jaccard_rounded).
    *
    * RECALL CAVEAT under the hot-bucket chain guard: for buckets over
    * `maxBucket`, [[candidatePairs]] emits a sorted-id CHAIN instead of all
    * pairs, and verification here is per-EDGE — a chain member whose two
    * neighbors both fail the Jaccard test disconnects from the component,
    * dropping pairs all-pairs emission would have verified (not just an
    * approximation of pair volume). This is the deliberate trade: a hot
    * bucket is near-always one family of near-identical docs (where every
    * chain edge verifies), and the alternative is the b²/2 straggler task.
    * Callers clustering MIXED-content hot buckets at high thresholds
    * should raise `maxBucket` (exact semantics below the cap) rather than
    * trust chain transitivity.
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      fast: Boolean = false, maxBroadcastIds: Long = 4000000L,
      maxBucket: Int = 4096): DataFrame =
    minhashLshPairsCounted(df, idCol, textCol, shingleN, k, bands, threshold,
      fast, maxBroadcastIds, maxBucket)._1

  /** [[minhashLshPairs]] plus the OBSERVED candidate-pair count (already
    * collected by the candidate checkpoint's observe() — no extra job).
    * Verified pairs are a subset of candidates, so the count is a sound
    * upper bound for [[dupClusters]]' `pairBound` — the composites
    * (curate, the dedup-apply pipelines) pass it so clustering can take
    * the one-job driver fast path without a counting job of its own.
    * The bound assumes UNIQUE doc ids: verification joins each candidate
    * back to the corpus by id, so an id shared by k docs turns one
    * candidate into up to k² verified rows and the count no longer bounds
    * them.
    */
  def minhashLshPairsCounted(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      fast: Boolean = false, maxBroadcastIds: Long = 4000000L,
      maxBucket: Int = 4096): (DataFrame, Long) = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    val bh =
      if (fast)
        minhashBandsFast(TextAnalysis.tokens(col(textCol)), shingleN, k, bands)
      else
        bandHashes(minhashSignature(shingles(col(textCol), shingleN), k), bands, r)
    // The (id, bandHashes) frame is tiny (id + `bands` hashes per doc).
    // Repartition is a deliberate barrier: it stops CollapseProject from
    // inlining the signature computation into the explode/filter/join sides,
    // and makes both self-join children identical exchanges so the plan
    // computes the signatures ONCE (ReusedExchange). The explode(array(…))
    // let-bind additionally stops candidatePairs' posexplode-inferred
    // `size(bh) > 0` filter from SUBSTITUTING the minhash kernel and
    // pushing it into the scan — without the Generate barrier the kernel
    // evaluated 3× per row (filter size + isnotnull + project).
    val banded = df.select(col(idCol).as("id"), explode(array(bh)).as("bh"))
      .repartition(col("id"))
    // materialized once: the broadcast-or-shuffle decision and the final
    // verification joins both read it without re-running the band
    // self-join; the pair count rides the SAME materialization via
    // observe() — no separate count job (each extra action on a composite
    // like b58 is a full job-launch floor)
    val candObs = new org.apache.spark.sql.Observation(
      s"lsh_cands_${java.util.UUID.randomUUID()}")
    val cands = candidatePairs(banded, "id", "bh", maxBucket)
      .observe(candObs, count(lit(1)).as("n")).localCheckpoint()
    val nCands = candObs.get("n").asInstanceOf[Long]
    // Jaccard verification only touches candidate docs: semi-join the corpus
    // down to candidate ids, THEN compute shingle sets. At scale this is the
    // difference between shingling the whole corpus twice and shingling a
    // few thousand docs. The candidate-id side is size-ADAPTIVE: candidate
    // volume grows with the corpus dup rate (not the band count), so a
    // high-dup crawl gets a shuffled semi-join instead of an O(corpus)
    // broadcast. Distinct ids ≤ 2 × pairs, so the observed pair count
    // bounds the broadcast size without a distinct-count job; the bound
    // being conservative only ever picks the (always-correct) shuffled
    // semi-join earlier than strictly needed.
    val candIdsRaw = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candIds =
      if (2L * nCands <= maxBroadcastIds) broadcast(candIdsRaw) else candIdsRaw
    // Verification shingle sets: the fast family compares 8-byte xxhash64
    // shingle hashes (native NgramHashes kernel — no interpreted HOF, no
    // gram strings through the shuffle; jac unchanged short of a 64-bit
    // collision between two shingles of one candidate pair); the md5
    // family keeps raw strings for the engine-portable oracle.
    val shSet: Column => Column =
      if (fast) text => array_distinct(call_function("graft_ngram_hashes",
        TextAnalysis.tokens(text), lit(shingleN), lit(shingleN)))
      else text => shingles(text, shingleN)
    val sh = df
      .join(candIds, col(idCol) === candIds("id"), "left_semi")
      .select(col(idCol).as("id"), shSet(col(textCol)).as("sh"))
    // SHUFFLE_HASH on the shingle sides: the optimizer sizes them by the
    // small parquet scan underneath and would otherwise BROADCAST them —
    // collecting the shingle arrays to the driver. Shuffled on id, the two
    // sides are identical exchanges and the plan computes shingles once.
    val verified = cands
      .join(sh.as("sa").hint("shuffle_hash"), col("id_a") === col("sa.id"))
      .join(sh.as("sb").hint("shuffle_hash"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sa.sh"), col("sb.sh")), 4).as("jac"))
      .filter(col("jac") >= threshold)
    (verified, nCands)
  }

  /** Pairwise n-gram Jaccard within a blocking key (e.g. source): the
    * quadratic check is confined to each block, so cost is Σ blockᵢ², not n².
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int, threshold: Double): DataFrame = {
    val sh = df.select(
      col(idCol).as("id"), col(blockCol).as("blk"), shingles(col(textCol), n).as("sh"))
    // shuffle on the block key — never broadcast the shingle arrays (the
    // optimizer under-costs them from the parquet scan size; see
    // minhashLshPairs for the measured pathology).
    sh.as("a").hint("shuffle_hash")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(jaccard(col("a.sh"), col("b.sh")), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Near-dup CLUSTERS from a pair list: connected components by iterative
    * min-label propagation — every node ends labeled with the smallest id
    * reachable through any chain of pairs, so "keep one per cluster" is
    * `filter(id === cluster)`. Each round is one shuffle (join + min-agg);
    * rounds needed = graph diameter (near-dup graphs are shallow — chains of
    * near-identical docs). `localCheckpoint` every round truncates the
    * iterative lineage, the standard guard against plan blowup in looped
    * DataFrame jobs at scale. (On a real cluster prefer reliable
    * `checkpoint` with a checkpoint dir — localCheckpoint blocks are not
    * replicated, so an executor loss mid-loop fails the job.)
    *
    * `pairBound`, when given, certifies an upper bound on the rows of
    * `pairs`; at or below `driverThreshold` the pairs are collected and
    * clustered on the driver. [[minhashLshPairsCounted]]' candidate count
    * bounds its pairs only when doc ids are unique — a bound computed
    * over duplicated ids understates the collect — so the collect is
    * capped at `driverThreshold + 1` rows, and a full cap falls back to
    * the observed path with the same labels.
    */
  def dupClusters(pairs: DataFrame, idA: String, idB: String,
      maxIters: Int = 20, driverThreshold: Long = 100000L,
      pairBound: Option[Long] = None): DataFrame = {
    // Integral id columns are widened to long up front so BOTH strategies
    // below see one type (and the driver fast path's getLong cannot
    // ClassCastException on int ids); non-integral ids (strings, …) keep
    // their type and always take the type-agnostic distributed path.
    val integralIds = pairs.schema(idA).dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val (srcCol, dstCol) =
      if (integralIds) (col(idA).cast("long"), col(idB).cast("long"))
      else (col(idA), col(idB))
    // Driver union-find over raw pairs (duplicate rows and either
    // orientation are harmless to union-find) — identical output to the
    // propagation below (min reachable id, one row per distinct node,
    // sorted build order). Taken when the caller certifies the pair count
    // ≤ driverThreshold up front (pairBound, e.g. the LSH candidate count
    // that already rode a checkpoint's observe()): then ONE collect job
    // replaces the two jobs the observed path below pays (symmetric-edge
    // checkpoint + collect) — each extra action is a full job-launch floor
    // (r15 opt; the b35/b37/b58 composites all pass the bound).
    def unionFind(es: Iterator[(Long, Long)]): DataFrame = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      rows.toDF("id", "cluster")
    }
    // The certificate is trusted only as far as the cap: at most
    // driverThreshold + 1 rows reach the driver, and a pair list that
    // fills the cap (duplicate ids broke the bound) takes the observed
    // path below instead.
    if (integralIds && pairBound.exists(_ <= driverThreshold)) {
      val capped = pairs.select(srcCol.as("src"), dstCol.as("dst"))
        .limit(math.min(driverThreshold + 1, Int.MaxValue.toLong).toInt).collect()
      if (capped.length <= driverThreshold)
        return unionFind(capped.iterator.map(r => (r.getLong(0), r.getLong(1))))
    }
    // edge count rides the checkpoint materialization via observe() — the
    // strategy decision costs no second job
    val edgeObs = new org.apache.spark.sql.Observation(
      s"dup_edges_${java.util.UUID.randomUUID()}")
    val edges = pairs.select(srcCol.as("src"), dstCol.as("dst"))
      .union(pairs.select(dstCol.as("src"), srcCol.as("dst")))
      .distinct()
      .observe(edgeObs, count(lit(1)).as("n"))
      .localCheckpoint()
    // Size-adaptive strategy (the broadcast-join decision, applied to
    // connected components): near-dup edge sets are a vanishing fraction
    // of the corpus — if the materialized edge list is small, a driver
    // union-find finishes in microseconds instead of O(log diameter)
    // join+checkpoint ROUNDS. Identical semantics (min reachable id);
    // above the threshold the distributed propagation below takes over.
    if (integralIds && edgeObs.get("n").asInstanceOf[Long] <= driverThreshold)
      return unionFind(edges.collect().iterator.map(r => (r.getLong(0), r.getLong(1))))
    // Convergence via observe(): labels only ever DECREASE, so an unchanged
    // label sum between rounds means a fixpoint. The metric rides the
    // localCheckpoint materialization — no extra job per round (a
    // join-and-compare check would roughly double each round's cost).
    // Non-numeric ids sum a 64-bit label hash instead — any label change
    // perturbs the sum except under a 2^-64 collision (non-adversarial:
    // labels are the caller's own ids).
    // decimal(38,0) accumulator: exact, and immune to ANSI long-overflow
    // on pathological id/hash magnitudes.
    val metric =
      if (integralIds) sum(col("cluster").cast("decimal(38,0)"))
      else sum(xxhash64(col("cluster")).cast("decimal(38,0)"))
    def checkpointed(df: DataFrame, it: Int): (DataFrame, Any) = {
      val obs = new org.apache.spark.sql.Observation(s"dup_clusters_$it")
      val out = df.observe(obs, metric.as("s")).localCheckpoint()
      (out, obs.get("s"))
    }
    var (labels, prevSum) = checkpointed(
      edges.select(col("src").as("id")).distinct().withColumn("cluster", col("id")), -1)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // Edge propagation: each node takes the min label among itself and
      // its neighbours (distance-1 hop)...
      val propagated = edges
        .join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("cluster"))
        .unionByName(labels)
        .groupBy(col("id"))
        .agg(min(col("cluster")).as("cluster"))
      // ...then, once plain propagation has had two rounds (near-dup graphs
      // are usually that shallow — paying an extra join for them buys
      // nothing), pointer jumping: adopt the label's own label, resolved
      // against the previous round's (checkpointed) table — labels are
      // always node ids, so the inner join is total, and joining the
      // checkpoint avoids a self-join of the live union plan. If the
      // propagated table reaches radius r+1 and the previous one radius r,
      // the composition reaches 2r+1: deep chains converge in
      // O(log diameter) rounds instead of O(diameter).
      val jumped =
        if (it < 2) propagated
        else propagated
          .join(labels.select(col("id").as("mid"), col("cluster").as("mcluster")),
            col("cluster") === col("mid"))
          .select(col("id"), least(col("cluster"), col("mcluster")).as("cluster"))
      val (next, s) = checkpointed(jumped, it)
      labels = next
      converged = s == prevSum
      prevSum = s
      it += 1
    }
    // With doubling, maxIters=20 covers diameters up to ~2^20; hitting the
    // cap anyway means the labels are NOT connected components yet —
    // returning them silently would hand callers wrong clusters.
    if (!converged) throw new IllegalStateException(
      s"dupClusters: min-label propagation did not converge in $maxIters rounds; " +
        "raise maxIters")
    labels
  }

  /** 32-bit SimHash (md5 family) as a '0'/'1' string: per token-hash, each of
    * the 32 bits votes ±1; the sign of each bit's total is the fingerprint
    * bit. Bit b lives in hex digit b/4 of the md5, offset b%4 (msb-first) —
    * the same arithmetic the DuckDB oracle runs.
    */
  def simhash32(text: Column): Column = {
    val md5s = transform(TextAnalysis.tokens(text), t => md5(t))
    // Bind md5s ONCE per row via a 1-element-array lambda (expressions have
    // no let; without this each of the 32 bit exprs would re-hash every
    // token — a 32× blowup).
    element_at(
      transform(array(md5s), m => {
        val bits = Seq.tabulate(32) { b =>
          val hexPos = b / 4 + 1
          val off    = b % 4
          val vote = aggregate(
            m, lit(0),
            (acc, h) => {
              val digit = conv(h.substr(lit(hexPos), lit(1)), 16, 10).cast("int")
              acc + (shiftright(digit, 3 - off) % 2) * 2 - 1
            })
          when(vote > 0, "1").otherwise("0")
        }
        concat(bits: _*)
      }),
      1)
  }

  /** 64-bit SimHash (fast family) as a LongType fingerprint — the native
    * one-pass expression (graft.functions.HashExpressions.SimHash64).
    * Near-dups differ in few bits; pair generation buckets on bit-prefixes.
    */
  def simhash64Fast(text: Column): Column =
    call_function("graft_simhash64", TextAnalysis.tokens(text))

  /** SimHash near-dup PAIRS by the block-pigeonhole trick (Manku et al.,
    * WWW'07): split the 64-bit fingerprint into `maxHamming + 1` blocks —
    * any two prints within Hamming distance d agree on at least one whole
    * block — bucket-join on (blockIdx, blockValue) via [[candidatePairs]]
    * (inheriting its hot-bucket chain guard — and with it the
    * [[minhashLshPairs]] recall caveat: a chained hot-bucket member whose
    * sorted-id neighbors both fail the Hamming verify disconnects even
    * when a non-neighbor pair would have passed; raise `maxBucket` when
    * hot buckets can hold mixed content), then verify
    * `bit_count(a ^ b) <= maxHamming` exactly. One fingerprint pass + one
    * block-keyed shuffle; never the n² pair space. Complements MinHash-LSH:
    * SimHash candidates cost ONE long per doc of state instead of k
    * signature entries — the cheaper index when memory, not recall,
    * binds.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val blocks = maxHamming + 1
    val base = 64 / blocks
    val rem = 64 % blocks
    def blockCol(sh: Column, b: Int): Column = {
      val len = base + (if (b < rem) 1 else 0)
      val start = b * base + math.min(b, rem)
      val mask = if (len >= 64) -1L else (1L << len) - 1L
      // candidatePairs keys on (band POSITION, value) — no cross-block
      // collision is possible, the raw block value suffices
      shiftrightunsigned(sh, start).bitwiseAND(lit(mask))
    }
    val sh = df.select(col(idCol).as("id"),
        simhash64Fast(col(textCol)).as("sh"))
      .repartition(col("id"))
      .localCheckpoint()
    val banded = sh.select(col("id"),
      array((0 until blocks).map(b => blockCol(col("sh"), b)): _*).as("bh"))
    val cands = candidatePairs(banded, "id", "bh", maxBucket)
    cands
      .join(sh.select(col("id").as("ia"), col("sh").as("sha")), col("id_a") === col("ia"))
      .join(sh.select(col("id").as("ib"), col("sh").as("shb")), col("id_b") === col("ib"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------- incremental (ingest-time)

  /** Persistable SimHash index of a corpus: (id, sh) — ONE long per
    * document, the most compact near-dup state there is (vs k signature
    * entries for the MinHash [[bandIndex]]). Maintained by appending each
    * accepted batch's rows.
    */
  def simhashIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), simhash64Fast(col(textCol)).as("sh"))

  /** Ingest-time SimHash near-dup check of `newDocs` against a persisted
    * [[simhashIndex]]: both sides band into the d+1 pigeonhole blocks, the
    * batch joins the index on (block, value), and exact hamming verifies —
    * the corpus is never re-hashed and verification needs NO corpus text
    * (the fingerprints already in the index suffice), so per-batch cost is
    * the batch hash + one block-keyed join. Returns
    * (new_id, old_id, hamming) with hamming <= maxHamming.
    */
  def simhashAgainstIndex(newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val blocks = maxHamming + 1
    val base = 64 / blocks
    val rem = 64 % blocks
    def blockCol(sh: Column, b: Int): Column = {
      val len = base + (if (b < rem) 1 else 0)
      val start = b * base + math.min(b, rem)
      val mask = if (len >= 64) -1L else (1L << len) - 1L
      shiftrightunsigned(sh, start).bitwiseAND(lit(mask))
    }
    def banded(df: DataFrame, id: String, sh: String): DataFrame = df
      .select(col(id), col(sh),
        posexplode(array((0 until blocks).map(b => blockCol(col(sh), b)): _*))
          .as(Seq("band", "h")))
    val newSh = newDocs.select(col(idCol).as("new_id"),
      simhash64Fast(col(textCol)).as("nsh"))
    banded(newSh, "new_id", "nsh")
      .withColumnsRenamed(Map("band" -> "nband", "h" -> "nh"))
      .join(banded(index.select(col("id").as("old_id"), col("sh").as("osh")),
          "old_id", "osh"),
        col("nband") === col("band") && col("nh") === col("h") &&
          col("new_id") =!= col("old_id"))
      .select(col("new_id"), col("old_id"),
        bit_count(col("nsh").bitwiseXOR(col("osh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Persistable LSH band index of a corpus: one (id, band, h) row per
    * band per document. Write it bucketed/partitioned by (band, h) and the
    * ingest-time join below becomes a co-located lookup. Building it is
    * one pass over the corpus — done ONCE, then maintained by appending
    * each accepted batch's own index rows.
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, fast: Boolean = true): DataFrame = {
    val r = k / bands
    val bh =
      if (fast) minhashBandsFast(TextAnalysis.tokens(col(textCol)), shingleN, k, bands)
      else bandHashes(minhashSignature(shingles(col(textCol), shingleN), k), bands, r)
    // explode(array(…)) let-bind: the posexplode's inferred size() filter
    // must not substitute the banding kernel into the scan (see
    // minhashLshPairs)
    df.select(col(idCol).as("id"), explode(array(bh)).as("bh"))
      .select(col("id"), posexplode(col("bh")).as(Seq("band", "h")))
  }

  /** Ingest-time near-dup check: `newDocs` (one arriving batch) against an
    * EXISTING corpus via its precomputed [[bandIndex]] — the batch is
    * banded and joined against the index, and ONLY candidate corpus docs
    * are semi-joined out of `corpus` for exact-Jaccard verification. The
    * corpus is never re-shingled and never re-hashed (with a
    * (band,h)-bucketed index the band join is also shuffle-free on the
    * index side) — hashing/banding cost scales with the BATCH, not the
    * corpus, which is the difference between ingest in seconds and
    * re-running the full LSH pipeline on 100 TB per batch. The one
    * corpus-proportional step left is the candidate-text fetch: a single
    * two-column filtered scan — keep the corpus id-clustered (bucketed or
    * z-ordered on the id) and it prunes to the candidate files. Returns
    * (new_id, old_id, jac) pairs ≥ threshold.
    *
    * New-vs-new duplicates inside the batch are [[minhashLshPairs]] on the
    * batch alone (cheap); compose both for full ingest dedup.
    */
  def nearDupsAgainstIndex(
      newDocs: DataFrame, idCol: String, textCol: String,
      index: DataFrame, corpus: DataFrame,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      fast: Boolean = true, maxBroadcastIds: Long = 4000000L): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val newBanded = bandIndex(newDocs, idCol, textCol, shingleN, k, bands, fast)
      .withColumnsRenamed(Map("id" -> "new_id", "band" -> "nband", "h" -> "nh"))
    // candidate count rides the checkpoint via observe() — no second
    // count job (see minhashLshPairs); distinct old ids ≤ pairs
    val candObs = new org.apache.spark.sql.Observation(
      s"ingest_cands_${java.util.UUID.randomUUID()}")
    val cands = newBanded
      .join(index, col("nband") === col("band") && col("nh") === col("h") &&
        col("new_id") =!= col("id"))
      .select(col("new_id"), col("id").as("old_id"))
      .distinct()
      .observe(candObs, count(lit(1)).as("n"))
      .localCheckpoint()
    val nCands = candObs.get("n").asInstanceOf[Long]
    val oldIdsRaw = cands.select(col("old_id").as("cid")).distinct()
    val oldIds =
      if (nCands <= maxBroadcastIds) broadcast(oldIdsRaw) else oldIdsRaw
    // same fast-family hashed-shingle verification as minhashLshPairs
    // (8-byte hashes, native kernel); md5 family keeps strings
    val shSet: Column => Column =
      if (fast) text => array_distinct(call_function("graft_ngram_hashes",
        TextAnalysis.tokens(text), lit(shingleN), lit(shingleN)))
      else text => shingles(text, shingleN)
    val oldSh = corpus
      .join(oldIds, col(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("oid"), shSet(col(textCol)).as("osh"))
    val newSh = newDocs
      .select(col(idCol).as("nid"), shSet(col(textCol)).as("nsh"))
    cands
      .join(newSh.hint("shuffle_hash"), col("new_id") === col("nid"))
      .join(oldSh.hint("shuffle_hash"), col("old_id") === col("oid"))
      .select(col("new_id"), col("old_id"),
        round(jaccard(col("nsh"), col("osh")), 4).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** The APPLY step after near-dup detection: given `clusters` — the
    * `(id, cluster)` labeling [[dupClusters]] produces — keep ONE
    * representative per cluster, the best by `score` (ties: smallest id,
    * so the choice is deterministic), and drop every other member from
    * `docs`. Documents in no cluster always survive.
    *
    * Scale shape: the argmax window runs over cluster MEMBERS only (the
    * clustered docs are a vanishing sliver of a deduplicated corpus, and
    * only `(id, score)` ever shuffles — never the text); the corpus
    * itself pays one left-anti join against the drop list and is
    * otherwise untouched, so the output keeps the input's partitioning
    * for downstream stages.
    */
  def keepBest(docs: DataFrame, clusters: DataFrame, idCol: String,
      score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = clusters.withColumnRenamed("id", idCol)
      .join(docs.select(col(idCol), score.as("__score")), Seq(idCol))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__score").desc, col(idCol))
    // NOTE (r14 opt): measured, not changed — the planner already picks a
    // broadcast anti join here (the drop side's estimate flows from the
    // tiny clusters relation), and a same-run A/B of an explicit
    // adaptiveJoinSide materialization was a net LOSS (one extra count
    // job against an already-correct plan).
    val drops = members.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select(col(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }
}
