package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB corpora):
  *  - nothing here is all-pairs: candidate generation always goes through a
  *    bounded blocking key (content hash, LSH band, SimHash band) so the
  *    only shuffles are hash-partitioned groupBy/join on those keys;
  *  - signatures are computed row-local with higher-order functions (no
  *    explode of shingles across the wire — a doc's shingle set never
  *    leaves its partition; only the fixed-width signature does);
  *  - band self-joins shuffle (band_id, band_hash) pairs — even at 10^11
  *    docs each bucket holds only near-duplicate cluster members.
  */
object Dedup {

  // ---- exact ---------------------------------------------------------

  /** Exact dedup groups: one row per distinct content, the kept (minimum)
    * id and the duplicate count. `hashFn` defaults to md5 for cross-engine
    * verifiability; xxhash64 is the cheaper production choice. */
  def exactGroups(df: DataFrame, text: Column, id: Column,
                  hashFn: Column => Column = md5): DataFrame =
    df.groupBy(hashFn(text).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated corpus: keep the min-id doc of each content group. */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame = {
    val keep = exactGroups(df, text, id, xxhash64(_)).select(col("keep_id"))
    df.join(keep, id === col("keep_id"), "left_semi")
  }

  // ---- shingles ------------------------------------------------------

  /** Distinct word k-shingles over an ALREADY-MATERIALIZED token array
    * column. Callers must project the token array first (`tokens(text)
    * .as("toks")` in its own select): an expression embedded in the
    * transform lambda below would re-evaluate once per shingle position —
    * the 16× trap documented in SURVEY §7. */
  def wordShinglesOf(toks: Column, k: Int): Column =
    // the < k guard matters: sequence(1, 0) is a DESCENDING [1, 0] in
    // Spark, whose 0 would feed slice an illegal start and error the
    // whole query for any doc shorter than k tokens
    when(size(toks) < k, typedlit(Seq.empty[String]))
      .otherwise(array_distinct(
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => concat_ws(" ", slice(toks, i, lit(k))))))

  /** Distinct char n-gram hashes, sorted — native kernel, one UTF-8 walk
    * per doc, no per-gram string allocation. Jaccard over these equals
    * Jaccard over the gram strings (64-bit hashes; collision odds are
    * ~1e-13 per doc pair). */
  def charShingleHashes(text: Column, n: Int): Column =
    graft.plans.Signatures.charShingleHashes(text, n)

  /** Exact Jaccard over two SORTED hash arrays — native linear merge
    * (no per-pair hash-set build as in array_intersect). */
  def jaccardHashed(a: Column, b: Column): Column =
    graft.plans.Signatures.jaccardSorted(a, b)

  /** Exact Jaccard similarity between two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast(DoubleType) / union.cast(DoubleType))
  }

  // ---- MinHash + LSH -------------------------------------------------

  /** 64-bit base hashes of each shingle (seeded xxhash64). */
  private def shingleHashes(shingles: Column): Column =
    transform(shingles, s => xxhash64(s))

  /** MinHash signature over PRE-HASHED shingles: numHashes mins over an
    * affine permutation family, as a native codegen Expression
    * (graft.plans.MinHashSig) — a single primitive loop per row, no
    * interpreted lambda folds, no shuffle. */
  def minhashSignature(preHashed: Column, numHashes: Int): Column =
    graft.plans.Signatures.minhashSig(preHashed, numHashes)

  /** (band_idx, band_hash) rows per doc: signature cut into `bands` bands
    * of `rows` values, each band hashed to one 64-bit key. */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(b, slice(sig, b * rows + 1, lit(rows))).as("band_hash")))

  /** lshBands plus, per band, the NEXT band's `rows` raw signature
    * elements (`sub`) — the sub-blocking keys used to split oversized
    * buckets without dropping them. +8·rows bytes per band row. */
  private def lshBandsWithSub(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        xxhash64(b, slice(sig, b * rows + 1, lit(rows))).as("band_hash"),
        slice(sig, (pmod(b + 1, lit(bands)) * rows) + 1, lit(rows)).as("sub")))

  /** Intermediate state of the LSH pipeline up to VERIFIED pairs, before
    * any member expansion: `verified` is rep pairs when collapsed (member
    * map in `memb`), raw doc pairs otherwise (`memb` and `intra` null).
    * `intra` is the (rep, jaccard) table [[Cliques.expand]] takes: reps
    * of non-empty shingle sets (two empty sets are jaccard 0.0 by
    * convention, which the verify drops, so the expansion must too).
    * [[MinhashTables]] writes it as derived parquet and reads it back in
    * this shape, so the inline pairs and the derived tables share
    * [[pairsOf]]; the derived clusters are [[clustersOf]] of it. */
  private[operators] final case class LshCore(memb: DataFrame,
                                              verified: DataFrame,
                                              intra: DataFrame)

  /** Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.
    *
    * Emits (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    * Pipeline: signature (row-local) → band explode (rows × bands) →
    * self-join on (band, band_hash) → distinct candidate pairs → exact
    * verify on the candidates only. Exact-dup clique collapse and the
    * caching contract: see [[Cliques]]. The near-dup lanes read this
    * result at their one operating point from the derived
    * [[MinhashTables.pairs]] table instead of re-running the pipeline. */
  def minhashLshPairs(df: DataFrame, text: Column, id: Column,
                      shingleK: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, threshold: Double = 0.5,
                      splitThreshold: Int = 4096): DataFrame =
    pairsOf(minhashLshCore(df, text, id, shingleK, numHashes, bands,
      threshold, splitThreshold))

  /** The member pairs of a core: its verified pairs on the direct side,
    * re-expanded through the member map on the collapsed side. */
  private[operators] def pairsOf(core: LshCore): DataFrame =
    if (core.memb == null) core.verified
    else Cliques.expand(core.verified, core.memb, "jaccard", core.intra)

  /** Incremental corpus dedup — the production shape of near-dup removal:
    * an INCREMENT (today's crawl) arrives against an EXISTING corpus and
    * only increment docs may be dropped. Over a near-dup pair table
    * (id_a, id_b, ...) of the whole corpus `df` (the tagged union —
    * [[minhashLshPairs]], or the derived [[MinhashTables.pairs]] that
    * q_dedup_incremental reads, so the lane pays only this keep step),
    * emits one row per increment doc: (doc_id, n_existing_dups,
    * n_earlier_incoming_dups, kept) with `kept` = no near-dup partner in
    * the existing corpus AND none among increment docs with a smaller id
    * (existing always wins; first-wins inside the increment — the
    * deterministic one-pass greedy policy, NOT transitive closure: an
    * increment doc is judged on its OWN partners, so a chain a~b~c with
    * only a dup-of-existing keeps c if c itself has no
    * dropped-or-existing partner; use [[MinhashTables.clusters]] when
    * component-level semantics are wanted). */
  def incrementalKeep(pairs: DataFrame, df: DataFrame, id: Column,
                      isExisting: Column): DataFrame = {
    val tags = df.select(id.as("doc_id"), isExisting.as("is_existing"))
    // both directed views of each undirected pair: (partner -> doc)
    val dir = pairs.select(col("id_a").as("partner"), col("id_b").as("doc"))
      .unionByName(pairs.select(col("id_b").as("partner"), col("id_a").as("doc")))
    val partnerTag = tags.select(col("doc_id").as("partner"),
      col("is_existing").as("partner_existing"))
    val stats = tags.filter(!col("is_existing"))
      .select(col("doc_id"))
      .join(dir.join(partnerTag, Seq("partner")),
        col("doc_id") === col("doc"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("partner_existing"), 1L).otherwise(0L))
          .as("n_existing_dups"),
        sum(when(!col("partner_existing") && col("partner") < col("doc_id"), 1L)
          .otherwise(0L)).as("n_earlier_incoming_dups"))
    stats.select(col("doc_id"),
      coalesce(col("n_existing_dups"), lit(0L)).as("n_existing_dups"),
      coalesce(col("n_earlier_incoming_dups"), lit(0L)).as("n_earlier_incoming_dups"),
      (coalesce(col("n_existing_dups"), lit(0L)) === 0 &&
        coalesce(col("n_earlier_incoming_dups"), lit(0L)) === 0).as("kept"))
  }

  /** Near-duplicate CLUSTERS of a core, (doc_id, cluster_id = min
    * reachable doc id) — only docs that appear in at least one near-dup
    * pair, exactly [[DedupClusters.clusters]] over the core's member
    * pairs ([[pairsOf]]). On the collapsed side the CC runs on the
    * REPRESENTATIVE pair graph (one node per distinct shingle set, never
    * the expanded clique edges) and member labels attach afterwards with
    * one join: a clique's members all carry their rep's component label,
    * and every rep is its clique's MINIMUM member id, so the rep graph's
    * component minima ARE the expanded graph's labels. At 100× bench
    * scale this iterates over thousands of rep edges instead of tens of
    * millions of expanded clique edges. `core.verified` should be a
    * plain scan ([[DedupClusters.clusters]] reads it more than once);
    * [[MinhashTables.clusters]] passes its derived `verified` table. */
  private[operators] def clustersOf(core: LshCore): DataFrame = {
    val clusters =
      DedupClusters.clusters(core.verified, col("id_a"), col("id_b")).labels
    if (core.memb == null) clusters
    else {
      val repClusters =
        clusters.select(col("doc_id").as("rep"), col("cluster_id").as("cl"))
      // members participate when their clique has intra pairs (size >= 2
      // with non-empty sets) or their rep has an inter pair — mirroring
      // "docs that appear in at least one pair"
      val sizes = core.memb.join(core.intra.select(col("rep")), Seq("rep"))
        .groupBy(col("rep")).agg(count(lit(1)).as("gsize"))
      core.memb
        .join(sizes, Seq("rep"), "left")
        .join(repClusters, Seq("rep"), "left")
        .filter(coalesce(col("gsize"), lit(0L)) >= 2 || col("cl").isNotNull)
        .select(col("doc_id"), coalesce(col("cl"), col("rep")).as("cluster_id"))
    }
  }

  private[operators] def minhashLshCore(df: DataFrame, text: Column,
                                        id: Column, shingleK: Int,
                                        numHashes: Int, bands: Int,
                                        threshold: Double,
                                        splitThreshold: Int): LshCore = {
    // threshold = 0 is degenerate (EVERY pair qualifies — including
    // empty-shingle docs, where the collapsed and direct regimes would
    // disagree: the verify emits empty∩empty at jaccard 0.0 >= 0 while
    // the collapse's intra table excludes empty-set cliques). Real
    // dedup thresholds are well above 0; refuse the corner instead of
    // carrying a convention only one regime honors.
    require(threshold > 0.0,
      s"minhash LSH threshold must be > 0 (got $threshold)")
    val rows = numHashes / bands
    import org.apache.spark.storage.StorageLevel
    // Shingle SETS are carried as distinct 64-bit hashes (native kernel —
    // no shingle strings ever materialize); Jaccard over hash sets equals
    // Jaccard over shingle sets. The collapse persists them: the groupBy
    // and the member-map join both read them.
    val cliques = Cliques.collapse(df.select(id.as("doc_id"),
        graft.plans.Signatures.shingleHashes(
          graft.functions.TextFns.tokens(text), shingleK).as("sh_hashes")),
      Seq("sh_hashes"), "doc_id")
    val docs = cliques.docs
    // built before the banding work, so the raw shingle table is freed
    // before the candidate pipeline runs
    val memb = if (cliques.collapsed) cliques.memb else null
    val intra = if (!cliques.collapsed) null
      else cliques.reps.filter(size(col("sh_hashes")) > 0 && lit(1.0) >= threshold)
        .select(col("doc_id").as("rep"), lit(1.0).as("jaccard"))
    // Band rows carry (band, band_hash, doc_id) plus the next band's
    // `rows` raw signature elements for hot-bucket sub-blocking — never
    // the shingle arrays. The bands explode multiplies row count by
    // `bands`; keeping the payload to ~50 bytes/row keeps the LSH shuffle
    // ~free. Shingle sets are fetched back by id for just the candidates.
    // `sig` must be its own column before banding: an expression embedded
    // inside the lshBands lambda would be re-evaluated once per band.
    val banded = docs
      .withColumn("sig", minhashSignature(col("sh_hashes"), numHashes))
      .select(col("doc_id"), explode(lshBandsWithSub(col("sig"), bands, rows)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.band_hash"), col("b.sub"))
    // Candidate pairs by bucket-local expansion: ONE scan + one shuffle on
    // the band key (a self-join would scan the signature pipeline twice).
    // Bucket sizes come from a window count on the same key — spill-safe
    // (no giant collect_list row just to measure a hot bucket), and the
    // groupBys below reuse the window's hash partitioning (no exchange).
    val w = Window.partitionBy(col("band"), col("band_hash"))
    val sized = banded.withColumn("bsize", count(lit(1)).over(w))
    val small = sized.filter(col("bsize") <= splitThreshold)
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("ids"))
    // Oversized buckets (degenerate band values — boilerplate, empty
    // shingle sets) are NEVER dropped: they are sub-blocked on the next
    // band's individual signature elements. A true near-dup pair in a hot
    // bucket shares a given single element with probability j (its
    // Jaccard), so it survives sub-blocking with p = 1-(1-j)^rows
    // (>= 0.94 at j = 0.5, rows = 4; -> 1 as j -> 1) — and most pairs
    // also co-occur in other, non-hot bands. The silent-drop recall
    // cliff of the old maxBucket cutoff is gone; worst-case cost is now
    // O(m²/4096) per hot bucket per sub-key instead of O(m²) or zero.
    val hot = sized.filter(col("bsize") > splitThreshold)
      .select(col("doc_id"), col("band"), col("band_hash"),
        posexplode(col("sub")).as(Seq("sub_i", "sub_h")))
      .groupBy(col("band"), col("band_hash"), col("sub_i"), col("sub_h"))
      .agg(collect_list(col("doc_id")).as("ids"))
    // Single expansion over the unioned bucket arrays (one codegen copy),
    // via the native pair kernel (graft.plans.IdPairs) — a primitive
    // double loop instead of nested interpreted transforms.
    val candidates =
      small.select("ids").unionByName(hot.select("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(graft.plans.Signatures.idPairs(col("ids"))).as("p"))
        .select(col("p.id_a"), col("p.id_b"))
        .distinct()
    // Exact-verify fetch. In a healthy corpus the candidate set is orders
    // of magnitude smaller than the corpus: broadcast the SLIM pair list
    // into the shingle-table probe so the corpus is never shuffled. But a
    // corpus with massive duplicate cliques (m exact copies → C(m,2)
    // pairs per clique) makes the candidate set itself quadratic, and a
    // forced broadcast then dies on the 8 GiB HashedRelation cap — so the
    // pair list is persisted (it feeds two joins either way), counted
    // (one cheap scan of materialized buckets; doubles as candidate-count
    // telemetry), and only broadcast while it is provably slim. Past the
    // cutoff the fetch degrades to hash joins on the candidate ids — the
    // correct plan at that size. The array-carrying second join is left
    // unhinted in BOTH regimes: its build side weighs |candidates| ×
    // shingle-array bytes, which only runtime stats can judge — AQE
    // broadcasts it when genuinely small and shuffle-joins otherwise.
    // (For clique-heavy corpora, run exact dedup first — the pair OUTPUT
    // is quadratic regardless of plan; see the simhashPairs note.)
    val cand = OpCaches.track(candidates.persist(StorageLevel.MEMORY_AND_DISK))
    val candCount = cand.count()
    val slim = candCount <= maxBroadcastCandidates
    val a = docs.select(col("doc_id").as("id_a"), col("sh_hashes").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh_hashes").as("sh_b"))
    val withA = a.join(if (slim) broadcast(cand) else cand, Seq("id_a"))
    val verified = b.join(withA, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    LshCore(memb, verified, intra)
  }

  /** Candidate-pair count above which the exact-verify fetch stops
    * broadcasting the pair list: 10M (id_a, id_b) rows ≈ 160 MB raw —
    * a comfortable build side, far below the 8 GiB HashedRelation cap. */
  val maxBroadcastCandidates: Long = 10000000L

  /** Materialize a pair list under the OpCaches lifecycle and COUNT it,
    * so a composition query can make the broadcast-vs-hash-join decision
    * on the measured size instead of assuming "pair lists are slim" —
    * the round-7 broadcast-cliff guard, exposed for queries that join a
    * data-dependent pair list back against the corpus (q_containment). */
  def countedPairs(pairs: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.storage.StorageLevel
    val p = OpCaches.track(pairs.persist(StorageLevel.MEMORY_AND_DISK))
    (p, p.count())
  }

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash signatures, one row per doc: per-token hashes vote ±1
    * on each bit; the sign of each bit-sum becomes the fingerprint bit.
    * Entirely row-local via the native codegen kernel
    * (graft.plans.SimHash64) — signature computation stays inside the
    * scan stage, zero shuffle. (Earlier shapes — 64 interpreted array
    * folds, then explode + 64-sum hash aggregate — were 60× and 4×
    * slower respectively at sf0.1.) */
  def simhashSignatures(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(id.as("doc_id"),
      graft.plans.Signatures.simhash64(TextFns.tokens(text)).as("sig"))

  /** [[simhashSignatures]] with MD5-derived token hashes
    * (graft.plans.SignatureKernels.simhashMd5) — bit-for-bit reproducible
    * in any engine with `md5()`, so dedup output can be verified
    * value-by-value by an external SQL oracle. Docs with zero tokens are
    * dropped: an empty token list casts no votes, so it has no meaningful
    * fingerprint (and a SQL re-derivation, which unnests tokens, never
    * sees such docs at all). */
  def simhashSignaturesMd5(df: DataFrame, text: Column, id: Column): DataFrame = {
    val toks = TextFns.tokens(text)
    df.filter(size(toks) > 0)
      .select(id.as("doc_id"),
        graft.plans.Signatures.simhash64Md5(toks).as("sig"))
  }

  /** The 48-bit remainder of `sig` with band `b`'s 16 bits excised —
    * the key space for hot-bucket sub-blocking. Literal-b shifts avoid
    * Java's shift-count-mod-64 trap at b = 3. */
  private def simhashRemainder(sig: Column, b: Int): Column = b match {
    case 0 => shiftrightunsigned(sig, 16)
    case 3 => sig.bitwiseAND(lit(0xFFFFFFFFFFFFL))
    case _ =>
      shiftleft(shiftrightunsigned(sig, (b + 1) * 16), b * 16)
        .bitwiseOR(sig.bitwiseAND(lit((1L << (b * 16)) - 1)))
  }

  /** Per-band (band, band_val, rem) rows for a simhash signature table. */
  private def simhashBanded(withSig: DataFrame): DataFrame = {
    val bandStructs = array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("band_val"),
        simhashRemainder(col("sig"), b).as("rem"))): _*)
    withSig.select(col("doc_id"), col("sig"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("sig"), col("b.band"), col("b.band_val"), col("b.rem"))
  }

  /** SimHash near-dup candidate pairs: block on 4 × 16-bit bands (any pair
    * within hamming distance 3 shares at least one band by pigeonhole),
    * then verify hamming distance <= maxHamming via bit_count(xor).
    *
    * Hot buckets — a homogeneous corpus biases whole 16-bit bands, so a
    * single bucket can hold a large fraction of the corpus and its
    * in-bucket O(m²) pair expansion dominates the stage (or, worse, used
    * to be silently DROPPED beyond a cap: a recall cliff) — are instead
    * sub-blocked: members of a bucket already agree on that band's 16
    * bits, so a pair at hamming <= 3 has <= 3 differing bits in the
    * 48-bit remainder and by pigeonhole shares >= 1 of 4 12-bit
    * sub-bands of it. Recall is preserved EXACTLY (same output as the
    * single-level plan) while hot-bucket cost drops from O(m²) to
    * O(Σ m_sub²); nothing is ever dropped. Use [[simhashBucketStats]]
    * for hot-bucket telemetry. Note: a corpus of exact duplicates defeats
    * any sub-blocking (all 64 bits equal → the pair OUTPUT is quadratic);
    * run exact dedup first. */
  def simhashPairs(df: DataFrame, text: Column, id: Column,
                   maxHamming: Int = 3, splitThreshold: Int = 256): DataFrame =
    simhashPairsFromSigs(simhashSignatures(df, text, id), maxHamming, splitThreshold)

  /** [[simhashPairs]] over an EXISTING signature table (doc_id, sig) —
    * the banding machinery is signature-source agnostic: any row-local
    * 64-bit similarity-preserving fingerprint (text SimHash, an image
    * aHash/dHash from [[ImageCodec]], an audio chromaprint) gets the same
    * pigeonhole 4×16-band candidate generation, hot-bucket sub-splits and
    * exact hamming verify. Exact-dup clique collapse and the caching
    * contract: see [[Cliques]]. */
  def simhashPairsFromSigs(withSig: DataFrame,
                           maxHamming: Int = 3, splitThreshold: Int = 256): DataFrame = {
    require(maxHamming <= 3, s"4x16 banding guarantees recall only for hamming <= 3, got $maxHamming")
    val cliques = Cliques.collapse(withSig, Seq("sig"), "doc_id")
    if (!cliques.collapsed) simhashBandPairs(cliques.rows, maxHamming, splitThreshold)
    else {
      // rep pairs sit at hamming 1..maxHamming (0 is impossible between
      // distinct signatures); identical signatures are hamming 0
      val repPairs = simhashBandPairs(cliques.reps, maxHamming, splitThreshold)
      Cliques.expand(repPairs, cliques.memb, "hamming",
        cliques.reps.select(col("doc_id").as("rep"), lit(0L).as("hamming")))
    }
  }

  /** The banding core of [[simhashPairsFromSigs]]: pigeonhole banding,
    * hot-bucket sub-splits, bucket-local pair kernel, exact hamming
    * verify. Correct for ANY signature table — identical signatures pair
    * at hamming 0 inside their shared buckets; the collapsed path feeds
    * it distinct signatures only, so its hamming-0 work disappears. */
  private def simhashBandPairs(withSig: DataFrame,
                               maxHamming: Int, splitThreshold: Int): DataFrame = {
    val banded = simhashBanded(withSig)
    // Bucket sizes via a window count on the band key: one shuffle,
    // spill-safe, and the groupBys below reuse its partitioning.
    val w = Window.partitionBy(col("band"), col("band_val"))
    val sized = banded.withColumn("bsize", count(lit(1)).over(w))
    val small = sized.filter(col("bsize") <= splitThreshold)
      .groupBy(col("band"), col("band_val"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ms"))
    val subStructs = array((0 until 4).map(j =>
      struct(lit(j).as("sub"),
        shiftrightunsigned(col("rem"), j * 12).bitwiseAND(lit(0xFFFL)).as("sub_val"))): _*)
    val hot = sized.filter(col("bsize") > splitThreshold)
      .select(col("doc_id"), col("sig"), col("band"), col("band_val"),
        explode(subStructs).as("sb"))
      .select(col("doc_id"), col("sig"), col("band"), col("band_val"),
        col("sb.sub"), col("sb.sub_val"))
      .groupBy(col("band"), col("band_val"), col("sub"), col("sub_val"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ms"))
    // Bucket-local pair expansion over the unioned bucket arrays — the
    // native kernel (graft.plans.SimhashPairArray) computes (min id,
    // max id, hamming) in one primitive double loop; a single codegen
    // copy serves both branches. A pair can surface from several
    // (sub-)buckets → groupBy min dedups.
    small.select("ms").unionByName(hot.select("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(graft.plans.Signatures.simhashPairArray(col("ms"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .groupBy(col("id_a"), col("id_b")).agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Hot-bucket telemetry for [[simhashPairs]]: one row per band bucket
    * exceeding `splitThreshold` (band, band_val, n_docs). Materialize and
    * log/alert on it in production runs — bucket splitting is loss-free
    * but a growing hot-bucket count signals a corpus that needs exact
    * dedup or boilerplate stripping upstream. */
  def simhashBucketStats(df: DataFrame, text: Column, id: Column,
                         splitThreshold: Int = 256): DataFrame =
    simhashBanded(simhashSignatures(df, text, id))
      .groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > splitThreshold)
}
