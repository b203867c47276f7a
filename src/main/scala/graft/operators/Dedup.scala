package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.functions.{simhash64, vec_dot, vec_l2norm, word_shingles}

/** Library-facing deduplication operators over an (idCol, textCol) corpus.
  *
  * Each returns a lazy DataFrame (no action run), except the iterative
  * `connectedComponents`, which is an algorithm rather than a view and
  * materializes per iteration (documented there). The queries in
  * `graft.queries.DedupQueries` are thin wrappers over these. Scale
  * posture: every candidate generator is a bounded-key bucket join
  * (shingle, band, LSH bucket) — never a blind cross join; exact similarity
  * is computed only on candidates; nothing corpus-sized is ever broadcast.
  * AQE handles hot buckets; persisted intermediates spill (MEMORY_AND_DISK).
  */
object Dedup {

  /** Distributed label-propagation rounds the last connectedComponents
    * call ON THIS THREAD ran (0 = the bounded driver union-find path) —
    * observability for the O(log diameter) pointer-jumping contract, which
    * TenXScaleSmokeSpec pins on chain graphs (a linear-propagation
    * regression would need O(diameter) rounds). ThreadLocal so concurrent
    * CC runs (parallel suites, or a query running CC while a spec reads
    * the counter) can never publish into each other's observation. */
  private[graft] val lastCcRounds: ThreadLocal[Int] =
    ThreadLocal.withInitial(() => -1)

  private def toks(c: Column): Column = split(lower(c), " ")

  /** Tokens + distinct word k-gram shingles via the native kernel. */
  def withShingles(df: DataFrame, textCol: String, k: Int = 3): DataFrame =
    df.withColumn("w", toks(col(textCol)))
      .filter(size(col("w")) >= k)
      .withColumn("shingles", word_shingles(col("w"), k))

  /** Exact dedup by content hash: (keep_doc_id, n_copies) per distinct
    * content. The 256-bit hash shuffles instead of the full text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("h"))
      .agg(min(idCol).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")

  /** Exact n-gram Jaccard pairs: (doc_id_1, doc_id_2, jaccard) unrounded.
    *
    * With `minJaccard = None` (the recall-harness baseline), every pair
    * sharing >= 1 shingle is scored: the per-doc shingle count rides on
    * each exploded row (computed once per document below the Generate), so
    * no side table is joined back — broadcast nothing, shuffle only
    * (shingle, doc_id, n); the self-join buckets by shingle and the
    * pair-group aggregate counts the intersection.
    *
    * With a threshold, candidate generation uses AllPairs/PPJoin-style
    * PREFIX FILTERING (Bayardo et al., WWW'07; Xiao et al., WWW'08 — also
    * the scheme in the reference-adjacent dedup literature): order shingles
    * by ascending global document frequency (rarest first, ties by value —
    * one total order corpus-wide), keep each document's first
    * n - ceil(t*n) + 1 shingles, and join only on those. Any pair with
    * jaccard >= t MUST collide inside both prefixes (pigeonhole on the
    * shared total order), so recall is exact; pairs only sharing frequent
    * shingles never become candidates. A length-ratio prune
    * (t*n1 <= n2 && t*n2 <= n1, since jaccard <= min/max) drops the rest
    * early. Candidates are then exact-scored via sorted-array
    * intersection, and at t = 0.8 the candidate set is ~2 orders of
    * magnitude smaller than the all-overlap pair aggregate — the
    * difference between a shuffle of pairs and a shuffle of near-dups.
    *
    * Deliberately NOT persisted: the self-join's two map stages recompute
    * the explode once each, but the shingle kernel is codegen'd and
    * IO-bound, and a persist here would pin a corpus-sized cache per call
    * site for the session lifetime (this operator backs four queries) —
    * bounded recompute beats unbounded cache residency. Callers that
    * reuse the pairs many times can persist the RESULT themselves.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minJaccard: Option[Double] = None): DataFrame = {
    val docs = withShingles(df, textCol, k)
      .select(col(idCol).as("doc_id"), col("shingles"))
      .withColumn("n", size(col("shingles")))
    minJaccard match {
      case None =>
        val ex = docs.select(col("doc_id"), col("n"), explode(col("shingles")).as("s"))
        val a = ex.select(col("doc_id").as("doc_id_1"), col("n").as("n1"), col("s"))
        val b = ex.select(col("doc_id").as("doc_id_2"), col("n").as("n2"), col("s"))
        a.join(b, Seq("s")).filter(col("doc_id_1") < col("doc_id_2"))
          .groupBy("doc_id_1", "doc_id_2")
          .agg(count(lit(1)).as("inter"), first("n1").as("n1"), first("n2").as("n2"))
          .withColumn("jaccard",
            col("inter") / (col("n1") + col("n2") - col("inter")))
          .select("doc_id_1", "doc_id_2", "jaccard")
      case Some(t) =>
        require(t > 0 && t <= 1, s"minJaccard must be in (0, 1], got $t")
        import org.apache.spark.sql.expressions.Window
        val ex = docs.select(col("doc_id"), col("n"), explode(col("shingles")).as("s"))
        // global document frequency per shingle — the canonical order.
        // Joined by shingle (shuffle join; at corpus scale the frequency
        // table is itself corpus-sized, so no broadcast — AQE may still
        // choose one when it measures small).
        val freq = ex.groupBy("s").agg(count(lit(1)).as("df_s"))
        val prefixLen = (col("n") - ceil(lit(t) * col("n")) + 1).cast("int")
        val pref = ex.join(freq, Seq("s"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df_s"), col("s"))))
          .filter(col("rk") <= prefixLen)
          .select(col("doc_id"), col("n"), col("s"))
        val a = pref.select(col("doc_id").as("doc_id_1"), col("n").as("n1"), col("s"))
        val b = pref.select(col("doc_id").as("doc_id_2"), col("n").as("n2"), col("s"))
        val cand = a.join(b, Seq("s"))
          .filter(col("doc_id_1") < col("doc_id_2") &&
            lit(t) * col("n1") <= col("n2") && lit(t) * col("n2") <= col("n1"))
          .select("doc_id_1", "doc_id_2").distinct()
        // exact verification on candidates only: set intersection over the
        // distinct shingle arrays (shuffles candidate ids + two hash joins
        // against the doc->shingles sets, each keyed by doc id)
        val sets1 = docs.select(col("doc_id").as("doc_id_1"),
          col("shingles").as("sh1"), col("n").as("n1"))
        val sets2 = docs.select(col("doc_id").as("doc_id_2"),
          col("shingles").as("sh2"), col("n").as("n2"))
        cand.join(sets1, Seq("doc_id_1")).join(sets2, Seq("doc_id_2"))
          .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
          .withColumn("jaccard",
            col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
          .filter(col("jaccard") >= t)
          .select("doc_id_1", "doc_id_2", "jaccard")
    }
  }

  /** MinHash LSH candidate pairs with EXACT Jaccard distance on candidates
    * (sub-quadratic banding; deterministic — no randomized fit).
    *
    * Native minwise family (r4; was spark.ml HashingTF + MinHashLSH): each
    * of the `numHashTables` signatures is min over the document's distinct
    * shingles of `xxhash64(table_index, seed, shingle)` — one codegen'd
    * hash per (shingle, table), no fit job, no 2^18-dim feature vectors,
    * and no HashingTF bucket collisions distorting the verify metric.
    * Banding is the r=1 OR-construction (collide in ANY table =>
    * candidate): P(candidate) = 1 - (1-j)^numHashTables, the same
    * amplification spark.ml's MinHashLSH applies. Candidates are then
    * exact-scored by sorted-set intersection over the TRUE shingle sets
    * and filtered at `maxJaccardDistance` — so banding only affects
    * recall, never the emitted distances.
    *
    * Scale posture: shuffles are keyed by (table, min-hash value) —
    * bucket-bounded, nothing broadcast, no cross join; exact scoring joins
    * only candidate ids back to the doc->shingles sets. Like the jaccard
    * path, deliberately not persisted (bounded recompute beats pinning a
    * corpus-sized cache; see ngramJaccardPairs). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxJaccardDistance: Double = 0.4, numHashTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(numHashTables >= 1, s"need numHashTables >= 1, got $numHashTables")
    val docs = withShingles(df, textCol)
      .select(col(idCol).as("doc_id"), col("shingles"))
      .withColumn("n", size(col("shingles")))
    val ex = docs.select(col("doc_id"), explode(col("shingles")).as("s"))
    // per-table hashes vary the INPUT (table index + seed are hashed with
    // the shingle) rather than affinely permuting one hash value — long
    // affine arithmetic would overflow-throw under ANSI semantics
    val minCols = (0 until numHashTables).map(i =>
      min(xxhash64(lit(i), lit(seed), col("s"))).as(s"m$i"))
    val sigs = ex.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val bandStructs = (0 until numHashTables).map(i =>
      struct(lit(i).as("t"), col(s"m$i").as("v")))
    val bands = sigs.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("k"))
      .select(col("doc_id"), col("k.t").as("t"), col("k.v").as("v"))
    val a = bands.select(col("doc_id").as("doc_id_1"), col("t"), col("v"))
    val b = bands.select(col("doc_id").as("doc_id_2"), col("t"), col("v"))
    val cand = a.join(b, Seq("t", "v"))
      .filter(col("doc_id_1") < col("doc_id_2"))
      .select("doc_id_1", "doc_id_2").distinct()
    val sets1 = docs.select(col("doc_id").as("doc_id_1"),
      col("shingles").as("sh1"), col("n").as("n1"))
    val sets2 = docs.select(col("doc_id").as("doc_id_2"),
      col("shingles").as("sh2"), col("n").as("n2"))
    cand.join(sets1, Seq("doc_id_1")).join(sets2, Seq("doc_id_2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard_dist",
        lit(1.0) - col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard_dist") <= maxJaccardDistance)
      .select("doc_id_1", "doc_id_2", "jaccard_dist")
  }

  /** SimHash sketch pairs within a hamming radius, via 16-bit-band
    * self-join: 4 bands over the 64-bit sketch. By pigeonhole, any pair at
    * hamming distance <= 3 leaves at least one band untouched and is
    * guaranteed to collide; pairs at distance >= 4 may be missed when the
    * differing bits span all four bands, so `maxHamming` defaults to 3 —
    * the banding's exact-recall radius (Manku et al., WWW'07 use the same
    * block scheme). Wider radii trade recall for fewer/wider bands; at
    * corpus scale 16-bit bands keep bucket cardinality at 65k per band so
    * bucket population stays ~n/65k (vs n/256 for 8-bit bands).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromSketches(simhashSketches(df, idCol, textCol), maxHamming)

  /** The per-document 64-bit simhash sketch table (doc_id, h) both pair
    * generators band over. Sketching scans the corpus text; the pair joins
    * touch only (id, 8-byte sketch) rows — a caller running several pair
    * passes (or the banded-vs-exact parity check, which needs BOTH
    * generators over the SAME sketches) computes this once and persists
    * it. Sub-3-token documents carry no sketch and never pair. */
  def simhashSketches(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("w", toks(col(textCol)))
      .filter(size(col("w")) >= 3)
      .select(col(idCol).as("doc_id"), simhash64(col("w")).as("h"))

  /** [[simhashPairs]] over a precomputed [[simhashSketches]] table. */
  def simhashPairsFromSketches(sh: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = sh.select(col("doc_id"), col("h"),
      explode(expr("transform(sequence(0, 3), b -> struct(b as band, shiftright(h, b*16) & 65535 as key))")).as("bk"))
      .select(col("doc_id"), col("h"), col("bk.band"), col("bk.key"))
    val a = bands.select(col("doc_id").as("doc_id_1"), col("h").as("h1"),
      col("band"), col("key"))
    val b = bands.select(col("doc_id").as("doc_id_2"), col("h").as("h2"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("doc_id_1") < col("doc_id_2"))
      .select(col("doc_id_1"), col("doc_id_2"),
        expr("bit_count(h1 ^ h2)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT simhash pairs at the default radius — the parity baseline for
    * [[simhashPairs]] — via an INDEPENDENT band split instead of an all-
    * pairs join. The pigeonhole recall proof holds for ANY partition of
    * the 64 sketch bits into 4 disjoint groups (a pair differing in <= 3
    * bits leaves >= 1 group untouched), so banding on INTERLEAVED bits
    * (band b = bits {4j + b}) is just as provably lossless at
    * hamming <= 3 as the contiguous 16-bit slices under test, and the
    * recomputed-hamming filter makes precision exact — the result EQUALS
    * the all-pairs formulation with a plain shuffle equi-join. (An earlier
    * version literally joined on `doc_id_1 < doc_id_2`; the inequality-
    * only predicate planned an unbounded BroadcastNestedLoopJoin — O(n^2)
    * pairs and a full-table broadcast that OOMs at corpus scale.)
    *
    * As a parity baseline the split is deliberately DIFFERENT from the
    * production path's (interleaved vs contiguous) and extracted through
    * different code (a bit-gather aggregate vs shift/mask slicing), so a
    * band-extraction bug cannot cancel out of the comparison.
    */
  def simhashPairsExact(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsExactFromSketches(simhashSketches(df, idCol, textCol), maxHamming)

  /** [[simhashPairsExact]] over a precomputed [[simhashSketches]] table. */
  def simhashPairsExactFromSketches(sh: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4 disjoint bands guarantee recall only at hamming <= 3, got $maxHamming")
    // interleaved band key: gather bits {4j + b : j in 0..15} of h into a
    // 16-bit key — a different partition of the same 64 bits than the
    // contiguous slices in simhashPairs
    val bands = sh.select(col("doc_id"), col("h"),
      explode(expr(
        """transform(sequence(0, 3), b -> struct(b AS band,
          |  aggregate(sequence(0, 15), 0L,
          |    (acc, j) -> acc | shiftleft(shiftright(h, 4 * j + b) & 1, j)) AS key))"""
          .stripMargin)).as("bk"))
      .select(col("doc_id"), col("h"), col("bk.band"), col("bk.key"))
    val a = bands.select(col("doc_id").as("doc_id_1"), col("h").as("h1"),
      col("band"), col("key"))
    val b = bands.select(col("doc_id").as("doc_id_2"), col("h").as("h2"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("doc_id_1") < col("doc_id_2"))
      .select(col("doc_id_1"), col("doc_id_2"),
        expr("bit_count(h1 ^ h2)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup pairs above a threshold (unrounded cosine).
    *
    * Scale path: vectors are L2-normalized, so `cosine(a,b) >= t` iff
    * `||â - b̂|| <= sqrt(2 (1 - t))`; random-projection LSH generates
    * candidate pairs within that Euclidean radius (hash-bucket join — the
    * corpus shuffles by (table, bucket) key, nothing is broadcast, no
    * cross join), and only candidates are exact-scored with the native
    * dot/norm kernels. The hash family is the standard p-stable scheme
    * (Datar et al., SoCG'04, the same family spark.ml's
    * BucketedRandomProjectionLSH implements): bucket_i = floor(û·w_i / L)
    * for `numHashTables` seeded random unit vectors w_i and bucket length
    * L = 2·radius. Implemented natively — the projections are literal
    * arrays fed to the codegen'd `vec_dot` kernel, so hashing, the bucket
    * join, and candidate scoring all stay inside whole-stage codegen with
    * no ml-vector conversion and no fit job (one row is peeked to learn
    * the dimension).
    *
    * Per-table miss probability for a true pair is E|(â-b̂)·w| / L
    * ≈ (radius * sqrt(2/(pi*d))) / (2*radius) ≈ 0.05 at d=64, and the
    * joint miss its numHashTables-th power (~1e-5 at the default 4) —
    * negligible for near-dup thresholds (t >= 0.5), so the output matches
    * the exact formulation (`embeddingCosinePairsExact`) in practice;
    * DedupScaleSpec asserts equality on the fixture. The bound scales as
    * sqrt(1/d), so for low-dimensional embeddings (d < 16) the table
    * count is automatically raised to at least 8.
    *
    * THRESHOLD GEOMETRY CAVEAT: discrimination degrades as `minCosine`
    * loosens. At t = 0.5 a qualifying pair sits at Euclidean distance 1.0
    * on the unit sphere while a RANDOM pair sits at sqrt(2) — a 1.41x
    * gap, for which any exact-recall single-projection bucketing needs
    * buckets so wide (L = 2r) that most of the corpus shares one bucket
    * and the candidate set approaches all-pairs (LSH theory: candidate
    * volume ~ n^(1+1/c^2) with c = 1.41 -> ~n^1.5 even with an
    * aggressively tuned multi-probe family). This operator therefore
    * stays recall-exact and candidate-cheap at tight thresholds
    * (t >= 0.8: r <= 0.63, buckets discriminate), and at loose
    * thresholds the at-scale path is [[semanticPairs]], whose k-means
    * cells bound the quadratic term by construction instead of by
    * projection geometry.
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, numHashTables: Int = 4, seed: Long = 42L): DataFrame = {
    val radius = math.sqrt(2.0 * (1.0 - minCosine)) + 1e-6
    val bucketLen = 2.0 * radius
    val emb = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("nrm", vec_l2norm(col("v")))
      .filter(col("nrm") > 0)
    // dimension peek: one-row action at build time (the analogue of ml's
    // fit job, but reading a single row instead of scanning the corpus)
    val dimPeek = emb.select(size(col("v")).as("d")).head(1)
    if (dimPeek.isEmpty)
      return embeddingCosinePairsExact(df.limit(0), idCol, vecCol, minCosine)
    val dim = dimPeek(0).getInt(0)
    val tables = if (dim < 16) math.max(numHashTables, 8) else numHashTables
    // seeded unit Gaussian projections (shared with AnnLsh) — deterministic
    // across JVMs for a fixed seed
    val projections = AnnLsh.gaussianProjections(dim, tables, seed)
    val keys = projections.zipWithIndex.map { case (w, i) =>
      struct(lit(i).as("t"),
        floor(vec_dot(col("u"), typedlit(w.toSeq)) / bucketLen).cast("long").as("b"))
    }
    // uniform-dim guard: a corpus mixing embedding dimensions must fail
    // loudly, not silently hash against projections built for `dim`
    val unitV = when(size(col("v")) === dim, expr("transform(v, x -> x / nrm)"))
      .otherwise(raise_error(concat(
        lit(s"heterogeneous embedding dimension: expected $dim, got "),
        size(col("v")).cast("string"))))
    // The bucket join moves IDS ONLY: at near-dup thresholds as loose as
    // 0.5 the Euclidean radius is ~1.0 on the unit sphere, buckets are
    // wide, and the candidate multiset is large — carrying two
    // d-float vectors through that shuffle (and scoring every pair once
    // PER TABLE COLLISION, as this operator did before r11) multiplies
    // both shuffle bytes and dot products by the collision count. Shape:
    // (table, bucket)-keyed id join -> distinct id pairs -> attach each
    // side's vector by one hash join each -> ONE exact score per
    // surviving pair. Same pair set, same deterministic cosine, ~4x less
    // compute and an order less shuffle volume at the default 4 tables.
    val keyed = emb.withColumn("u", unitV)
      .select(col("vec_id"), explode(array(keys.toSeq: _*)).as("k"))
      .select(col("vec_id"), col("k.t").as("t"), col("k.b").as("b"))
    val cand = keyed.select(col("vec_id").as("vec_id_1"), col("t"), col("b"))
      .join(keyed.select(col("vec_id").as("vec_id_2"), col("t"), col("b")),
        Seq("t", "b"))
      .filter(col("vec_id_1") < col("vec_id_2"))
      .select("vec_id_1", "vec_id_2")
      .distinct()
    val s1 = emb.select(col("vec_id").as("vec_id_1"), col("v").as("v1"),
      col("nrm").as("nrm1"))
    val s2 = emb.select(col("vec_id").as("vec_id_2"), col("v").as("v2"),
      col("nrm").as("nrm2"))
    cand.join(s1, Seq("vec_id_1")).join(s2, Seq("vec_id_2"))
      .withColumn("cosine", vec_dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")))
      .filter(col("cosine") >= minCosine)
      .select("vec_id_1", "vec_id_2", "cosine")
  }

  /** Exact all-pairs embedding cosine — the verification baseline for the
    * recall tests and the exact fallback for corpora small enough to
    * broadcast (O(n^2) scoring, full-corpus broadcast). At corpus scale
    * use `embeddingCosinePairs` (LSH candidates, identical output for
    * near-dup thresholds at realistic dimensions). Ids must be bigint. */
  def embeddingCosinePairsExact(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double): DataFrame = {
    val emb = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("nrm", vec_l2norm(col("v")))
    val idType = emb.schema("vec_id").dataType
    require(idType == org.apache.spark.sql.types.LongType,
      s"embeddingCosinePairsExact needs bigint ids, got ${idType.sql}")
    // BLOCKED kernel: vectors are dealt to a bounded number of hash blocks, each
    // block PAIR joins as one row, and the native
    // CosinePairsBlock kernel scores the cross pairs in place — the
    // former broadcast nested-loop join materialized a joined row
    // carrying both d-float vectors per candidate pair, and that row
    // machinery cost several times the dot products themselves.
    // Same pairs, bit-identical cosines (see the kernel's scaladoc);
    // rows a strict-inequality pair could never emit under the join
    // formulation (null id, null vector — null predicates drop them)
    // are dropped up front. Block count bounds per-task memory at
    // corpus/nBlocks vectors — same order as the full-corpus
    // broadcast this exact fallback is documented to require.
    val nBlocks = 32
    import org.apache.spark.sql.graft.bridge
    val clean = emb.filter(col("vec_id").isNotNull && col("nrm").isNotNull)
    val blocks = clean
      .groupBy(pmod(xxhash64(col("vec_id")), lit(nBlocks)).as("blk"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("rows"))
    val a = blocks.select(col("blk").as("blk1"), col("rows").as("rows1"))
    val b = blocks.select(col("blk").as("blk2"), col("rows").as("rows2"))
    val kernel = bridge.column(graft.functions.CosinePairsBlock(
      bridge.expression(col("rows1")), bridge.expression(col("rows2")),
      bridge.expression(col("blk1") === col("blk2")), minCosine))
    a.join(broadcast(b), col("blk1") <= col("blk2"))
      .select(explode(kernel).as("p"))
      .select(col("p.vec_id_1").as("vec_id_1"),
        col("p.vec_id_2").as("vec_id_2"), col("p.cosine").as("cosine"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): partition the embedding space with the IVF
    * coarse quantizer's clusters, then score all pairs WITHIN each
    * cluster. The cluster partition bounds the quadratic term to
    * (corpus/nCells)² work per cell instead of corpus² — the paper's
    * whole trick — and the join shuffles each vector exactly ONCE on its
    * cell key (no per-pair vector duplication beyond the cell-local
    * join). At 100 TB the cell count scales with the corpus (FAISS-style
    * ~sqrt(n) cells), keeping per-cell work constant; pairs crossing a
    * cluster boundary are the approximation (rare at near-dup
    * thresholds — near-identical vectors quantize identically), pinned
    * by the `dedup_semantic_recall` driver gate and SemDedupSpec's
    * nCells=1 equality with the exact all-pairs path.
    *
    * Takes a built [[IvfIndex]] so a session amortizes ONE deterministic
    * quantizer fit + assignment scan across semantic dedup AND ANN
    * serving (the driver queries share the session cache). `nAssign` > 1
    * scores within each vector's nAssign closest cells (soft
    * multi-assignment via [[IvfIndex.softCells]]) — boundary-robust: a
    * pair is found iff it shares ANY assigned cell, at ~nAssign× the
    * shuffle. Returns (vec_id_1, vec_id_2, cosine, cell) with one row per
    * pair (cell = the smallest shared cell id); zero-norm vectors score
    * NaN and drop at the threshold, matching
    * [[embeddingCosinePairsExact]]. */
  def semanticPairs(index: IvfIndex, minCosine: Double,
      nAssign: Int = 1): DataFrame = {
    val assigned = index.softCells(nAssign)
    val a = assigned.select(col("cell"), col("c_id").as("vec_id_1"),
      col("cv").as("v1"), col("cn").as("n1"))
    val b = assigned.select(col("cell"), col("c_id").as("vec_id_2"),
      col("cv").as("v2"), col("cn").as("n2"))
    // a pair colliding in several shared cells scores its (deterministic)
    // cosine once per collision; the group-by collapses the duplicates —
    // same discipline as the RP-LSH bucket join
    a.join(b, Seq("cell"))
      .filter(col("vec_id_1") < col("vec_id_2"))
      .withColumn("cosine", vec_dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= minCosine)
      .groupBy("vec_id_1", "vec_id_2")
      .agg(min("cosine").as("cosine"), min("cell").as("cell"))
  }

  /** SemDeDup's keep rule applied over [[semanticPairs]]' clusters:
    * within each connected component of qualifying pairs keep the member
    * FARTHEST from its k-means centroid (the paper keeps the
    * low-centroid-similarity representative — the most "atypical"
    * duplicate carries the most information). Returns (vec_id,
    * keep_vec_id) for EVERY indexed vector; singletons keep themselves.
    * Centroid similarity is a broadcast of the nCells-row centroid table
    * against the cell-keyed assignments — nothing corpus-sized moves. */
  def semanticKeep(index: IvfIndex, minCosine: Double,
      nAssign: Int = 1): DataFrame = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    val pairs = semanticPairs(index, minCosine, nAssign)
    val cent = index.centroids.toDF("cell", "centroid")
    val scored = index.cells.join(broadcast(cent), Seq("cell"))
      .withColumn("cent_cos",
        vec_dot(col("cv"), col("centroid"))
          / (when(col("cn") > 0, col("cn")).otherwise(lit(1.0))
            * when(vec_l2norm(col("centroid")) > 0,
                vec_l2norm(col("centroid"))).otherwise(lit(1.0))))
    resolveClustersBy(scored, "c_id", -col("cent_cos"),
        pairs, "vec_id_1", "vec_id_2")
      .select(col("doc_id").as("vec_id"), col("keep_doc_id").as("keep_vec_id"))
  }

  /** Incremental exact dedup for an append-only ingest: the rows of
    * `newDf` whose content does NOT already exist in `corpusDf`.
    *
    * The corpus is distilled into a Bloom filter ONCE via Spark's
    * partial-aggregated `bloom_filter_agg` (only the filter's bits travel
    * and land on the driver — ~1 MB for a million docs, never the
    * corpus), then broadcast as a literal inside a codegen'd
    * `might_contain` prefilter over the new batch:
    *
    *  - bloom-NEGATIVE rows are definitively new (no false negatives) and
    *    skip the join entirely — at a typical ingest dup rate this is
    *    ~all of the batch, which therefore never shuffles;
    *  - bloom-POSITIVE rows (true dups + ~2% false positives) are
    *    verified exactly with an anti-join against the corpus hashes.
    *
    * The result is EXACT; the Bloom filter only bounds how much of the
    * batch pays the join. Building the filter runs one job at call time
    * (algorithm, not a lazy view — same caveat as connectedComponents).
    * `expectedCorpusItems` sizes the filter (8 bits/item ≈ 2% fpp). */
  def incrementalNew(newDf: DataFrame, corpusDf: DataFrame, textCol: String,
      expectedCorpusItems: Long = 1L << 20): DataFrame = {
    val hashes = corpusContentHashes(corpusDf, textCol)
    incrementalNewWith(newDf, hashes, textCol,
      corpusContentBloom(hashes, expectedCorpusItems))
  }

  /** sha2 content hashes of the corpus (column `__h`) — the exact-verify
    * side of [[incrementalNewWith]]'s anti-join. A caller serving many
    * batches (or a stream, where the static join side re-evaluates every
    * trigger) should persist this once per corpus version. */
  def corpusContentHashes(corpusDf: DataFrame, textCol: String): DataFrame =
    corpusDf.select(sha2(col(textCol), 256).as("__h"))

  /** Distill the corpus content hashes to a driver-side bloom byte array —
    * ONE aggregate job (algorithm, not a lazy view), the build-once
    * prefilter artifact of the incremental-dedup family; None for an
    * empty corpus. 8 bits/item ≈ 2% fpp; sizing only bounds how much of a
    * batch pays the verify join, never the result. */
  def corpusContentBloom(corpusHashes: DataFrame,
      expectedCorpusItems: Long = 1L << 20): Option[Array[Byte]] = {
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // bloom_filter_agg silently clamps to the runtime-filter conf caps;
    // clamping would quietly destroy the fpp guarantee (every batch row
    // bloom-positive -> full join), so make under-sizing loud instead
    val spark = corpusHashes.sparkSession
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedCorpusItems <= maxItems && expectedCorpusItems * 8L <= maxBits,
      s"expectedCorpusItems=$expectedCorpusItems exceeds the bloom conf caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits); raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits " +
        "or the filter would clamp and lose its fpp bound")
    val bloomAgg = bridge.column(BloomFilterAggregate(
      new XxHash64(Seq(bridge.expression(col("__h")))),
      Literal(expectedCorpusItems), Literal(expectedCorpusItems * 8L), 0, 0)
      .toAggregateExpression())
    Option(corpusHashes.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0))
  }

  /** [[incrementalNew]] against PREPARED corpus artifacts (the hash table
    * from [[corpusContentHashes]] — persist it — and the bloom from
    * [[corpusContentBloom]]): the form a long-running ingest runs, paying
    * the corpus distillation once per corpus version instead of once per
    * plan build. */
  def incrementalNewWith(newDf: DataFrame, corpusHashes: DataFrame,
      textCol: String, bloom: Option[Array[Byte]]): DataFrame = bloom match {
    case None => newDf // empty corpus: everything is new
    case Some(bloomBytes) =>
      import org.apache.spark.sql.graft.bridge
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
      import org.apache.spark.sql.types.BinaryType
      val h = sha2(col(textCol), 256)
      val mightContain = bridge.column(BloomFilterMightContain(
        Literal.create(bloomBytes, BinaryType),
        new XxHash64(Seq(bridge.expression(col("__h"))))))
      // null content -> null __h, but XxHash64 hashes a null input to its
      // seed (it never returns null), so might_contain is always boolean.
      // A null-text row lands in EITHER branch and survives as new either
      // way: bloom-negative goes straight to sureNew; bloom-positive enters
      // the anti-join where its null __h key can never match a corpus row.
      val positive = mightContain
      val withH = newDf.withColumn("__h", h)
      val sureNew = withH.filter(!positive)
      val verifiedNew = withH.filter(positive)
        .join(corpusHashes, Seq("__h"), "left_anti")
      sureNew.unionByName(verifiedNew).drop("__h")
  }

  /** Benchmark DECONTAMINATION: the corpus documents sharing at least one
    * word n-gram with an evaluation set — (doc_id, contaminated_ngrams,
    * eval_docs_hit) per contaminated corpus doc. n = 13 is the customary
    * decontamination width (the GPT-3 appendix's 13-gram filter; Llama and
    * successors use the same shape): long enough that a shared n-gram
    * means copied text, not idiom.
    *
    * Scale shape mirrors [[incrementalNew]], because the asymmetry is the
    * same — benchmarks are tiny next to a 100 TB corpus:
    *
    *  - the EVAL side is distilled once into a Bloom filter over its
    *    n-gram hashes via partial-aggregated `bloom_filter_agg` (only the
    *    filter's bits reach the driver and broadcast — never the eval
    *    text, and never as a collected Set);
    *  - corpus n-grams stream through a codegen'd `might_contain`
    *    prefilter: bloom-NEGATIVE n-grams (at a realistic contamination
    *    rate, ~all of the corpus) are dropped at the scan and never
    *    shuffle;
    *  - bloom-POSITIVE n-grams (true hits + ~2% false positives) are
    *    verified with an exact equi-join against the eval n-grams, keyed
    *    by the n-gram — a bounded-key bucket join, nothing corpus-sized
    *    broadcast — then counted per corpus doc.
    *
    * The result is EXACT (the bloom only bounds how much of the corpus
    * pays the join). Building the filter runs one job at call time (same
    * caveat as incrementalNew). `expectedEvalNgrams` sizes the filter
    * (8 bits/item ≈ 2% fpp). */
  def ngramContamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 13,
      expectedEvalNgrams: Long = 1L << 20): DataFrame =
    // the single-set form IS the multi-benchmark sweep with one constant
    // benchmark — ONE body, so the bloom sizing contract, conf-cap
    // validation and empty-eval semantics cannot drift between the two
    ngramContaminationBy(corpus, evalSet.withColumn("__bench", lit("")),
        idCol, textCol, "__bench", n, expectedEvalNgrams)
      .drop("__bench")

  /** MULTI-BENCHMARK n-gram decontamination: [[ngramContamination]] with
    * the eval side carrying a benchmark tag — the form a real pipeline
    * runs, because it decontaminates against DOZENS of eval sets and must
    * not pay a corpus scan per benchmark. The union of every benchmark's
    * n-grams distills into ONE bloom filter (still bounded — eval sets
    * are tiny next to the corpus), the corpus pays ONE
    * `might_contain`-prefiltered scan and ONE shingle equi-join, and the
    * per-benchmark verdicts fall out of the (doc, benchmark) group keys.
    * Output: (doc_id, `benchCol`, contaminated_ngrams, eval_docs_hit) per
    * contaminated (corpus doc, benchmark) pair. Exactness argument is
    * [[ngramContamination]]'s verbatim: the bloom only bounds how much of
    * the corpus reaches the verify join. */
  def ngramContaminationBy(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, benchCol: String, n: Int = 13,
      expectedEvalNgrams: Long = 1L << 20): DataFrame = {
    require(n >= 2, s"need n >= 2, got $n")
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val evalSh = withShingles(evalSet, textCol, n)
      .select(col(idCol).as("eval_id"), col(benchCol),
        explode(col("shingles")).as("s"))
    val spark = corpus.sparkSession
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedEvalNgrams <= maxItems && expectedEvalNgrams * 8L <= maxBits,
      s"expectedEvalNgrams=$expectedEvalNgrams exceeds the bloom conf caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits)")
    val bloomAgg = bridge.column(BloomFilterAggregate(
      new XxHash64(Seq(bridge.expression(col("s")))),
      Literal(expectedEvalNgrams), Literal(expectedEvalNgrams * 8L), 0, 0)
      .toAggregateExpression())
    val bloomBytes = evalSh.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val corpusSh = withShingles(corpus, textCol, n)
      .select(col(idCol).as("doc_id"), explode(col("shingles")).as("s"))
    if (bloomBytes == null)
      return corpusSh.limit(0) // empty eval union: nothing contaminated
        .withColumn(benchCol, lit(""))
        .groupBy("doc_id", benchCol)
        .agg(countDistinct("s").as("contaminated_ngrams"),
          countDistinct(lit(0L)).as("eval_docs_hit"))
    val mightContain = bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes, BinaryType),
      new XxHash64(Seq(bridge.expression(col("s"))))))
    corpusSh.filter(mightContain)
      .join(evalSh, Seq("s"))
      .groupBy("doc_id", benchCol)
      .agg(countDistinct("s").as("contaminated_ngrams"),
        countDistinct("eval_id").as("eval_docs_hit"))
  }

  /** Connected components over an undirected pair list: (id, component)
    * where `component` is the minimum vertex id reachable from `id`.
    *
    * Iterative min-label propagation over the edge list plus a
    * pointer-jumping step (`comp(v) <- comp(comp(v))`) per round, so label
    * distance to the component minimum roughly halves each round —
    * convergence in O(log diameter) shuffle joins rather than O(diameter).
    * Near-dup clusters are near-cliques, so 2-3 rounds is typical.
    *
    * NOTE: this is an algorithm, not a lazy view — each round materializes
    * the label table exactly like GraphX/Pregel does, via an EAGER
    * localCheckpoint: the jump step references the labels twice, so
    * without lineage truncation the logical plan doubles per round and
    * planning goes exponential (a persist caches data but keeps the
    * plan). Edges shuffle by endpoint; labels are one row per vertex
    * *appearing in a pair* (dup pairs, not the corpus), so the iterated
    * state is small even when the corpus is 100 TB. On a cluster with
    * flaky executors, swap localCheckpoint for reliable checkpoint() —
    * same shape, fault-tolerant storage. Each round's checkpointed blocks
    * are freed asynchronously by the ContextCleaner once the loop drops
    * the reference (standard RDD GC-based cleanup). Throws if maxIters
    * rounds don't converge — silently-partial components would let
    * duplicate clusters keep multiple survivors downstream.
    *
    * `smallGraphThreshold` gates on the RAW pair-row count of `pairs`
    * (the bounded `limit(threshold+1)` collect probe), NOT on the
    * distinct symmetrized edge count it gated on before r20: a pair
    * list with heavy duplication over a tiny graph takes the
    * distributed path where it previously ran driver union-find.
    * Output is exact either way; callers tuning the threshold should
    * size it against raw pair rows (~16 B of driver transfer each).
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 25,
      smallGraphThreshold: Long = 1L << 17): DataFrame = {
    val edges0 = pairs.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    // ADAPTIVE strategy switch, same spirit as the broadcast-join size
    // threshold: dup-pair graphs are usually MUCH smaller than the corpus
    // (they hold only near-duplicates), and below the threshold the exact
    // union-find on the driver beats any number of distributed label
    // rounds. The probe IS the collect: limit(threshold+1) bounds the
    // driver transfer (~16 B/pair) whatever the pair count, and a result
    // within the bound is by construction the complete pair list — one
    // bounded job, versus the previous count-then-collect over a persisted
    // symmetrized+deduped edge table (two jobs, a shuffle, and persist
    // churn that union-find never needed: duplicate pairs, orientation,
    // and self-loops are all no-ops to it). Identical output either way
    // (exact connected components, min-id labels).
    val cap = math.min(smallGraphThreshold, Int.MaxValue - 2L).toInt
    val probe = edges0.limit(cap + 1).collect()
    if (probe.length <= cap) {
      Dedup.lastCcRounds.set(0) // driver union-find: no distributed rounds
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      probe.foreach { row =>
        val u = row.getLong(0); val v = row.getLong(1)
        parent.getOrElseUpdate(u, u)
        parent.getOrElseUpdate(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      val labels = parent.keys.toSeq.map(v => (v, find(v))).sortBy(_._1)
      return labels.toDF("id", "comp")
    }
    // symmetrized + SELF-LOOPED edge list: (v,v) for every vertex makes
    // "min over incoming neighbor labels" include the vertex's own label,
    // so each propagation round is a single join+groupBy. Built with ONE
    // explode over the pair list, not a 4-way union — each union branch
    // would re-materialize the whole upstream pair-generation pipeline
    // (4x the candidate join), and a union of a checkpointed plan with a
    // plan sharing its attribute ids trips Catalyst's union constraint
    // rewriting besides.
    val edges = edges0
      .select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")),
        struct(col("u").as("u"), col("u").as("v")),
        struct(col("v").as("u"), col("v").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // init fuses the first propagation round: l0(v) = min(v, neighbors(v))
    // (self-loops make the min include v itself). localCheckpoint is
    // EAGER: it materializes AND truncates lineage to a LogicalRDD.
    var labels = edges.groupBy("v").agg(min("u").as("comp"))
      .select(col("v").as("id"), col("comp"))
      .localCheckpoint()
    // labels only ever DECREASE (min-propagation), so sum(comp) strictly
    // decreases iff any label changed — the convergence probe is one
    // aggregate over the checkpointed labels, not a join. Decimal sum: no
    // overflow for any id range.
    // sum over an EMPTY label table is null -> zero (no pairs at all:
    // the loop below converges immediately on the empty fixpoint)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("comp").cast("decimal(38,0)"))).collect()(0)
      if (s.isNullAt(0)) java.math.BigDecimal.ZERO else s.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // propagate each vertex's label to its neighbors (self-loops carry
      // the vertex's own label), keep the min
      val propagated = edges.join(labels, edges("u") === labels("id"))
        .select(edges("v").as("id"), col("comp"))
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer jump: follow the label's own label (labels cover all ids,
      // and comp is always an id, so the self-join always matches)
      val l = propagated.select(col("id"), col("comp"))
      val jumped = l.alias("a")
        .join(l.select(col("id").as("cid"), col("comp").as("ccomp")).alias("b"),
          col("a.comp") === col("b.cid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.comp"), coalesce(col("b.ccomp"), col("a.comp"))).as("comp"))
        .localCheckpoint() // eager; lineage reset for the next round
      val newSum = labelSum(jumped)
      // the eager checkpoint above just read (and so superseded) the
      // previous round's label blocks — release them deterministically
      // (GC-based cleanup can lag past a bench leak check)
      org.apache.spark.sql.graft.bridge.unpersistCheckpoints(labels)
      labels = jumped
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      iter += 1
    }
    edges.unpersist()
    Dedup.lastCcRounds.set(iter)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          "(pointer jumping bounds rounds by O(log diameter); raise maxIters)")
    labels.select(col("id"), col("comp"))
  }

  /** Duplicate-cluster resolution over a corpus: (doc_id, keep_doc_id) for
    * EVERY row of `df`, where `keep_doc_id` is the minimum id of the
    * document's near-dup cluster (transitive closure over `pairs`), or the
    * document's own id when it appears in no pair. Downstream, keep rows
    * where `doc_id = keep_doc_id` to actually drop duplicates. */
  def resolveClusters(df: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val comp = connectedComponents(pairs, srcCol, dstCol)
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("keep_doc_id"))
  }

  /** Cluster resolution keeping the BEST member per cluster by a priority
    * expression (quality score, length, recency) instead of the minimum
    * id — what a real pipeline wants when duplicates differ in
    * completeness. Ties break by ascending id. Returns (doc_id,
    * keep_doc_id) for every row of `df`; singletons keep themselves. The
    * window runs over cluster members only (dup-pair vertices), never the
    * corpus. */
  def resolveClustersBy(df: DataFrame, idCol: String, priority: Column,
      pairs: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(pairs, srcCol, dstCol)
    val prio = df.select(col(idCol).cast("long").as("doc_id"), priority.as("__prio"))
    // inner join: only pair vertices enter the window; the corpus at large
    // never shuffles into per-cluster partitions
    val clustered = prio
      .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"))
    val w = Window.partitionBy("comp").orderBy(desc("__prio"), col("doc_id"))
    val keepers = clustered
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("comp"), col("doc_id").as("keep_doc_id"))
    val mapped = clustered.join(keepers, Seq("comp"))
      .select(col("doc_id"), col("keep_doc_id"))
    prio.select("doc_id").join(mapped, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep_doc_id"), col("doc_id")).as("keep_doc_id"))
  }

  /** Apply cluster resolution to the corpus: the rows of `df` that SURVIVE
    * dedup (one per near-dup cluster — the min-id member — plus every row
    * in no pair), with all original columns. Non-survivors are dropped via
    * an anti-join against the cluster members whose id != keep id, so the
    * corpus itself never routes through the label iteration. */
  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003): hash every ORDERED word k-gram, slide a window of `w` hashes,
    * keep each window's minimum — the selected set is position-robust
    * (insertions/deletions outside a region don't disturb its
    * fingerprints) and carries the winnowing GUARANTEE: any shared run of
    * at least w + k - 1 tokens yields at least one shared fingerprint.
    *
    * Everything is built-in HOF arithmetic over the md5-prefix hash (the
    * engine-portable 60-bit hash `Sampling.hashFraction` uses), so the
    * result is exactly reproducible in any engine with md5 — the
    * fingerprint table and the pair detection are both hash-checkable,
    * unlike the seeded minhash/simhash families. One projection per doc,
    * no shuffle until the pair join groups by fingerprint.
    *
    * Returns (idCol, fp) — one row per DISTINCT selected fingerprint per
    * doc. Docs with fewer than k tokens yield no rows; docs with fewer
    * than w k-grams fall back to the single global minimum (standard
    * short-document degeneration). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1")
    val t = split(lower(col(textCol)), " ")
    // the native one-pass kernel (functions.WinnowSelect) — value-
    // identical to the HOF formulation over
    // conv(substring(md5(gram), 1, 15), 16, 10) (WinnowSpec pins the
    // parity), ~10x cheaper: no per-gram lambda/hex-string round-trips
    val fps = org.apache.spark.sql.graft.bridge.column(
      graft.functions.WinnowSelect(
        org.apache.spark.sql.graft.bridge.expression(t), k, w))
    df.filter(size(t) >= k) // under k tokens: no k-grams, no fingerprints
      .select(col(idCol), explode(fps).as("fp"))
    // already distinct per doc: the kernel emits a set — no extra shuffle
  }

  /** Winnowing-based near-dup pairs: docs sharing at least `minShared`
    * selected fingerprints (id1 < id2). Grouped equi-join on the
    * fingerprint key — bucketed like every other candidate generator,
    * never all-pairs. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 3): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
    val a = fps.select(col(idCol).as("doc_id_1"), col("fp"))
    val b = fps.select(col(idCol).as("doc_id_2"), col("fp"))
    a.join(b, "fp")
      .filter(col("doc_id_1") < col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Verbatim-repeat intervals — the EXACT SUBSTRING dedup family (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022): runs of at least `minRun` tokens that occur verbatim
    * elsewhere in the corpus (another document, or earlier in the same
    * document), reported as per-document excision intervals with the
    * globally FIRST occurrence kept. The substring-level complement of
    * document near-dup: winnowing/jaccard drop whole near-duplicate
    * documents, while this finds the boilerplate/quote/copy-paste runs
    * INSIDE otherwise-distinct documents.
    *
    * Method: every ordered token k-gram is keyed by its md5 (128 bits —
    * collision rate negligible at any corpus size, and engine-portable so
    * the driver oracle reproduces the table bit-for-bit; the hash, not
    * the ~10x larger gram string, is what shuffles). The per-gram FIRST
    * occurrence (minimum (doc_id, pos)) comes from one map-side-
    * combinable aggregate; every OTHER occurrence covers its tokens
    * [pos, pos+k-1]; per-document coverage merges into maximal intervals
    * with the classic gaps-and-islands window (the sessionize shape), and
    * intervals spanning >= minRun tokens survive. A shared run of
    * R >= minRun tokens yields R-k+1 CONSECUTIVE duplicate anchors in
    * every non-first occurrence, so the merged interval covers the whole
    * run (exact for any minRun >= k); the first occurrence contributes no
    * duplicate anchors and is untouched.
    *
    * Scale shape: the duplicated-gram set (grams with >= 2 occurrences —
    * a tiny fraction of a real corpus) is distilled ONCE, eagerly, by the
    * full-anchor aggregate, then compressed to a BLOOM LITERAL planted as
    * a scan filter (the [[contaminationIntervals]] shape). Both sides of
    * the verify join then stream only bloom-positive anchors: the
    * first-occurrence table is re-derived from the prefiltered stream —
    * EXACT, because the filter depends only on the gram key (a bloom has
    * no false negatives, so every occurrence of a true dup gram survives
    * and its n_occ recount is unchanged; false-positive grams recount to
    * n_occ == 1 and die at the >= 2 filter as before) — and the verify
    * join shuffles candidates, not the corpus. Before this, the join
    * streamed EVERY corpus anchor a second time: broadcastable at test
    * scale, a full second anchor shuffle at 100 TB. Net cost: one bloom
    * build pass (scan + the anchor aggregate that already existed);
    * net saving: the second full-anchor shuffle is gone. Interval merging
    * windows by doc_id over DUPLICATE anchors only. Nothing corpus-sized
    * is broadcast or collected (the bloom is fpp-bounded bytes).
    *
    * `expectedDupGrams` sizes the bloom (same conf-cap contract as
    * [[contaminationIntervals]]); an overestimate wastes bits, an
    * underestimate saturates the filter — more false positives, weaker
    * pruning, correctness unchanged (the exact join still decides).
    *
    * Returns (doc_id, start_pos, end_pos, span_tokens): 1-based inclusive
    * positions over the lowercased whitespace tokens. */
  def substringRepeatIntervals(df: DataFrame, idCol: String, textCol: String,
      k: Int = 13, minRun: Int = 50,
      expectedDupGrams: Long = 1L << 20): DataFrame = {
    require(k >= 2 && minRun >= k, s"need minRun >= k >= 2, got k=$k minRun=$minRun")
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val spark = df.sparkSession
    val w = toks(col(textCol))
    // native one-pass gram hashing (functions.GramMd5) — value-identical
    // to transform(sequence(1, n-k+1), i -> md5(concat_ws(' ',
    // slice(w, i, k)))) but ~6x cheaper (no interpreted lambda, no
    // per-position string concat chain); parity pinned in
    // SubstringDedupSpec
    val grams = bridge.column(
      graft.functions.GramMd5(bridge.expression(w), k))
    val occ = df.filter(size(w) >= k)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(grams).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("g"))
    def firstsOf(anchors: DataFrame): DataFrame = anchors.groupBy("g")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedDupGrams <= maxItems && expectedDupGrams * 8L <= maxBits,
      s"expectedDupGrams=$expectedDupGrams exceeds the bloom conf caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits); raise the runtime " +
        "bloom filter confs or the filter would clamp and lose its fpp bound")
    // the bloom-build pass needs only WHICH keys repeat, so it aggregates
    // 8-byte xxhash64 keys with a bare count — not the 32-char md5 string
    // with the min-(doc,pos) struct the verify side needs — cutting the
    // full-anchor shuffle's bytes ~4x. A cross-gram xxhash64 collision
    // only promotes a frequency-1 gram into the bloom (one more false
    // positive for the exact join to discard); it can never lose a real
    // duplicate. Both bloom sides hash the SAME derived key: the filter
    // probes with XxHash64(xxhash64(g)), matching the build.
    val bloomAgg = bridge.column(BloomFilterAggregate(
      new XxHash64(Seq(bridge.expression(col("h")))),
      Literal(expectedDupGrams), Literal(expectedDupGrams * 8L), 0, 0)
      .toAggregateExpression())
    val bloomBytes = occ.select(xxhash64(col("g")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n_occ")).filter(col("n_occ") >= 2)
      .agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    if (bloomBytes == null) return mergeCoveredIntervals( // no dup grams at all
      occ.limit(0).select(col("doc_id"), col("pos"), col("pos").as("e")), minRun)
    val mightContain = bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes, BinaryType),
      new XxHash64(Seq(bridge.expression(xxhash64(col("g")))))))
    val cand = occ.filter(mightContain)
    val dup = cand.join(firstsOf(cand), "g")
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("e"))
    mergeCoveredIntervals(dup, minRun)
  }

  /** Gaps-and-islands merge of anchor coverage [pos, e] per doc into
    * maximal intervals, keeping spans of at least `minRun` tokens —
    * shared by the substring-repeat and span-decontamination paths.
    * Windows run over MARKED anchors only (a tiny fraction of the corpus
    * at realistic rates), partitioned by doc. Input: (doc_id, pos, e). */
  private def mergeCoveredIntervals(dup: DataFrame, minRun: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("pm",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pm").isNull || col("pos") > col("pm") + 1, 1).otherwise(0))
      .withColumn("island",
        sum("ni").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("start_pos"), max("e").as("end_pos"))
      .filter(col("end_pos") - col("start_pos") + 1 >= minRun)
      .select(col("doc_id"), col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos") + 1).as("span_tokens"))
  }

  /** Apply [[substringRepeatIntervals]] to the corpus: every document with
    * its verbatim >= `minRun`-token repeats REMOVED — the token stream
    * outside the excision intervals, in order, over the lowercased
    * whitespace tokens — reported as counts plus an md5 fingerprint of the
    * cleaned text (the fingerprint keeps the driver row hash-checkable
    * without shipping full cleaned bodies through the compare; callers
    * wanting the text itself take `kept` before the final projection).
    * Documents with nothing excised pass through with excised_tokens = 0
    * and the fingerprint of their full lowercased text. The interval join
    * is keyed by doc_id against a repeat-sized table; token filtering is a
    * codegen'd higher-order `filter` per row — no shuffle beyond the
    * interval aggregation itself. */
  def exciseRepeats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 13, minRun: Int = 50): DataFrame =
    exciseByIntervals(df, idCol, textCol,
      substringRepeatIntervals(df, idCol, textCol, k, minRun))

  /** Excision projection shared by [[exciseRepeats]] and
    * [[exciseContaminated]]: every document of `df` with the tokens
    * inside `intervals` (doc_id, start_pos, end_pos) removed, as counts
    * plus an md5 fingerprint of the cleaned lowercased token stream. The
    * interval join is keyed by doc_id against an excision-sized table;
    * the token filter is a per-row higher-order `filter`.
    *
    * Public because detection and repair naturally share the interval
    * table: a pipeline that first REPORTS the intervals
    * ([[substringRepeatIntervals]] / [[contaminationIntervals]]) and then
    * APPLIES them should compute (and persist) that table once, not once
    * per stage. */
  def exciseByIntervals(df: DataFrame, idCol: String, textCol: String,
      intervals: DataFrame): DataFrame = {
    val ivTable = intervals
      .groupBy("doc_id")
      .agg(sort_array(collect_list(
        struct(col("start_pos").as("s"), col("end_pos").as("e")))).as("ivs"))
    val w = toks(col(textCol))
    df.select(col(idCol).cast("long").as("doc_id"), w.as("w"))
      .join(ivTable, Seq("doc_id"), "left")
      // 1-based token position i+1; a null ivs (no repeats) keeps all —
      // the isNull disjunct short-circuits before exists sees the null
      .withColumn("kept", filter(col("w"), (x, i) =>
        col("ivs").isNull || !exists(col("ivs"),
          v => i + 1 >= v.getField("s") && i + 1 <= v.getField("e"))))
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        (size(col("w")) - size(col("kept"))).as("excised_tokens"),
        size(col("kept")).as("kept_tokens"),
        md5(concat_ws(" ", col("kept"))).as("cleaned_fingerprint"))
  }

  /** Span-level benchmark DECONTAMINATION — the REPAIR step after
    * [[ngramContamination]]'s detection: the corpus positions whose
    * k-gram occurs ANYWHERE in the eval set, merged into maximal
    * intervals per corpus doc (every verbatim >= k-token overlap with
    * the eval set, the GPT-3-appendix remediation applied at span
    * granularity instead of dropping whole documents). Anchors are the
    * same native GramMd5 hashes as the substring-dedup path; the eval
    * side distills to a bloom literal first (the [[ngramContamination]]
    * scale shape — at a realistic contamination rate ~all corpus anchors
    * drop at the scan and never shuffle), bloom positives are verified
    * with an exact LEFT SEMI join against the eval gram set, and
    * verified coverage merges with the shared gaps-and-islands window.
    * Returns (doc_id, start_pos, end_pos, span_tokens) over corpus docs.
    */
  def contaminationIntervals(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, k: Int = 13,
      expectedEvalNgrams: Long = 1L << 20): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val spark = corpus.sparkSession
    val w = toks(col(textCol))
    val grams = bridge.column(graft.functions.GramMd5(bridge.expression(w), k))
    val evalGrams = evalSet.filter(size(w) >= k)
      .select(explode(grams).as("g")).distinct()
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedEvalNgrams <= maxItems && expectedEvalNgrams * 8L <= maxBits,
      s"expectedEvalNgrams=$expectedEvalNgrams exceeds the bloom conf caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits); raise the runtime " +
        "bloom filter confs or the filter would clamp and lose its fpp bound")
    val bloomAgg = bridge.column(BloomFilterAggregate(
      new XxHash64(Seq(bridge.expression(col("g")))),
      Literal(expectedEvalNgrams), Literal(expectedEvalNgrams * 8L), 0, 0)
      .toAggregateExpression())
    val bloomBytes = evalGrams.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val occ = corpus.filter(size(w) >= k)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(grams).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("g"))
    if (bloomBytes == null) return occ.limit(0)
      .select(col("doc_id"), col("pos").as("start_pos"),
        col("pos").as("end_pos"), col("pos").as("span_tokens"))
    val mightContain = bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes, BinaryType),
      new XxHash64(Seq(bridge.expression(col("g"))))))
    val hit = occ.filter(mightContain)
      .join(evalGrams, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("e"))
    mergeCoveredIntervals(hit, minRun = k)
  }

  /** Apply [[contaminationIntervals]]: every corpus document with its
    * eval-overlapping spans REMOVED — counts + cleaned-stream md5 per
    * doc, the decontaminated corpus a training run actually consumes. */
  def exciseContaminated(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, k: Int = 13,
      expectedEvalNgrams: Long = 1L << 20): DataFrame =
    exciseByIntervals(corpus, idCol, textCol,
      contaminationIntervals(corpus, evalSet, idCol, textCol, k,
        expectedEvalNgrams))

  /** Corpus-wide DUPLICATE LINES — the line-granular member of the exact
    * dedup family (the CCNet / RefinedWeb cleaning step: a line repeated
    * across a web crawl is navigation chrome, a cookie banner, a footer —
    * boilerplate that document-level and >= minRun-token substring dedup
    * both miss because it is too short and its hosts are otherwise
    * distinct). Reports every non-empty line (textCol split on the
    * literal `delim`) whose exact content occurs at least `minOcc` times
    * corpus-wide, with its occurrence count and globally FIRST occurrence
    * (minimum (doc_id, line_idx), 1-based over the split positions).
    *
    * The md5 line key (not the line text) is what shuffles, and the
    * single aggregate is map-side combinable — one bounded-key shuffle
    * over (16-byte key, doc, idx) triples is the whole cost. Collisions:
    * 128-bit, negligible at any corpus size, and engine-portable so the
    * driver oracle reproduces the table bit-for-bit. */
  def duplicateLines(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n", minOcc: Int = 2): DataFrame = {
    require(minOcc >= 2, s"need minOcc >= 2, got $minOcc")
    linesOf(df, idCol, textCol, delim).groupBy("line_md5")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("line_idx"))).as("first"))
      .filter(col("n_occ") >= minOcc)
      .select(col("line_md5"), col("n_occ"),
        col("first.doc_id").as("first_doc_id"),
        col("first.line_idx").as("first_line_idx"))
  }

  /** (doc_id, line_idx, line_md5) for every NON-EMPTY line of the corpus;
    * line_idx is 1-based over ALL split positions (empty lines keep their
    * slot so excision indexes align with the raw split array). */
  private def linesOf(df: DataFrame, idCol: String, textCol: String,
      delim: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as(Seq("i0", "line")))
      .filter(length(col("line")) > 0)
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("line_idx"),
        md5(col("line")).as("line_md5"))

  /** Apply [[duplicateLines]] to the corpus: every document with its
    * duplicated lines REMOVED — `keepFirst = true` (default) retains the
    * globally first occurrence of each repeated line (the substring-dedup
    * convention); `keepFirst = false` drops every occurrence (the CCNet
    * convention for crawl boilerplate, where the "first" copy is just as
    * much chrome as the rest). Empty lines are never counted and never
    * excised. Returns per-doc counts plus an md5 fingerprint of the
    * kept-line stream rejoined on `delim` (hash-checkable without
    * shipping cleaned bodies).
    *
    * Scale shape mirrors [[substringRepeatIntervals]]: the duplicated
    * line-key set is distilled to a BLOOM LITERAL planted as a scan
    * filter, so only bloom-positive lines shuffle into the verify join —
    * exact, because the filter depends only on the line key (no false
    * negatives: every occurrence of a truly duplicated line survives and
    * its n_occ recount is unchanged; false-positive keys recount to
    * n_occ < minOcc and die as before). The per-doc drop-index table is
    * excision-sized; the final pass is a doc-keyed join against it plus a
    * per-row higher-order filter — the corpus itself never re-shuffles. */
  def exciseDupLines(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\n", minOcc: Int = 2, keepFirst: Boolean = true,
      expectedDupLines: Long = 1L << 20): DataFrame =
    exciseDupLinesWith(df, idCol, textCol,
      duplicateLines(df, idCol, textCol, delim, minOcc), delim, keepFirst,
      expectedDupLines)

  /** Bloom literal over a [[duplicateLines]] table's line keys — the
    * filter half of the duplicate-line detection artifact (EAGER: runs
    * the one tiny aggregate job over `dups`). None when the table is
    * empty (no duplicated lines anywhere). Same key recipe as the
    * [[exciseDupLinesWith]] probe side: XxHash64 over xxhash64(line_md5). */
  def dupLinesBloom(dups: DataFrame,
      expectedDupLines: Long = 1L << 20): Option[Array[Byte]] = {
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val spark = dups.sparkSession
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedDupLines <= maxItems && expectedDupLines * 8L <= maxBits,
      s"expectedDupLines=$expectedDupLines exceeds the bloom conf caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits); raise the runtime " +
        "bloom filter confs or the filter would clamp and lose its fpp bound")
    val bloomAgg = bridge.column(BloomFilterAggregate(
      new XxHash64(Seq(bridge.expression(xxhash64(col("line_md5"))))),
      Literal(expectedDupLines), Literal(expectedDupLines * 8L), 0, 0)
      .toAggregateExpression())
    Option(dups.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0))
  }

  /** [[exciseDupLines]] against a PRECOMPUTED [[duplicateLines]] table —
    * the detect+apply split the substring family already has
    * (`substringRepeatIntervals` / `exciseByIntervals`): a real pipeline
    * reports and applies ONE duplicate-line table, not two derivations of
    * it, and a caller that persists `dups` pays the corpus-wide line
    * aggregation once instead of per invocation.
    *
    * Scale shape as before, but CHEAPER: the bloom literal is now built
    * from the duplicate-line-sized detection table (one tiny scan), not
    * from a second corpus-wide hash aggregation, and the verify join
    * needs no occurrence recount — `dups` already carries the exact
    * corpus-wide counts and first occurrences, so bloom false positives
    * simply find no join partner and die. Only bloom-positive line
    * occurrences shuffle; the corpus itself never re-shuffles.
    *
    * `bloom` short-circuits the eager filter-build job: a caller that
    * persists `dups` can derive the literal once via [[dupLinesBloom]]
    * and serve it with the table (one detection ARTIFACT — table +
    * filter — exactly like an index manifest). Some(None) means "built
    * and empty" (no duplicate lines). */
  def exciseDupLinesWith(df: DataFrame, idCol: String, textCol: String,
      dups: DataFrame, delim: String = "\n", keepFirst: Boolean = true,
      expectedDupLines: Long = 1L << 20,
      bloom: Option[Option[Array[Byte]]] = None): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.types.BinaryType
    val lines = linesOf(df, idCol, textCol, delim)
    val bloomBytes = bloom.getOrElse(dupLinesBloom(dups, expectedDupLines))
      .orNull
    val cand = if (bloomBytes == null) lines.limit(0) else lines.filter(
      bridge.column(BloomFilterMightContain(
        Literal.create(bloomBytes, BinaryType),
        new XxHash64(Seq(bridge.expression(xxhash64(col("line_md5"))))))))
    val firsts = dups.select(col("line_md5"),
      struct(col("first_doc_id").as("doc_id"),
        col("first_line_idx").as("line_idx")).as("first"))
    val dropRows = cand.join(firsts, "line_md5")
    val drops = (if (keepFirst)
        dropRows.filter(struct(col("doc_id"), col("line_idx")) =!= col("first"))
      else dropRows)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("line_idx"))).as("drop_idxs"))
    df.select(col(idCol).cast("long").as("doc_id"),
        split(col(textCol), java.util.regex.Pattern.quote(delim)).as("ls"))
      .join(drops, Seq("doc_id"), "left")
      .withColumn("kept", filter(col("ls"), (_, i) =>
        col("drop_idxs").isNull ||
          !array_contains(col("drop_idxs"), (i + 1).cast("long"))))
      .select(col("doc_id"), size(col("ls")).as("n_lines"),
        (size(col("ls")) - size(col("kept"))).as("excised_lines"),
        size(col("kept")).as("kept_lines"),
        md5(concat_ws(delim, col("kept"))).as("cleaned_fingerprint"))
  }

  def dropDuplicatesByCluster(df: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val comp = connectedComponents(pairs, srcCol, dstCol)
    val drop = comp.filter(col("id") =!= col("comp"))
      .select(col("id").as("__drop_id"))
    df.join(drop, df(idCol).cast("long") === col("__drop_id"), "left_anti")
  }
}
