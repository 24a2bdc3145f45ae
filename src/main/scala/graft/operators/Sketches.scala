package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.CorpusOps.bigrams
import graft.sources.Tables

/** Mergeable corpus sketches and collocation statistics — the
  * fixed-size-summary tier of a training-data pipeline, where a
  * 100 TB corpus must reduce to kilobytes of state before anything
  * is compared, merged, or monitored across shards:
  *
  *  - PMI phrase mining (word2phrase, Mikolov et al. 2013): the
  *    collocation score that decides which token bigrams become
  *    single vocabulary units before tokenizer training.
  *  - count-min sketch (Cormode & Muthukrishnan 2005): point
  *    frequency estimates from a depth×width grid whose size is
  *    independent of the corpus — the mergeable complement of the
  *    top-k-only Misra-Gries sketch in [[CorpusOps.qHeavyHitters]].
  *  - HyperLogLog-style distinct sketches (Flajolet et al. 2007):
  *    per-source cardinality summaries whose union is an exact
  *    elementwise max — the cross-shard "how many new tokens does
  *    this source add" primitive.
  *
  * Scale postures:
  *  - PMI: two partial-agg shuffles (unigram vocab, bigram pairs);
  *    the discount filter (`pair_cnt > PmiDiscount`) prunes the
  *    singleton long tail BEFORE the vocab joins, and the vocab
  *    joins are plain equi-joins (never broadcast — vocabulary
  *    grows with the corpus). Score arithmetic rides DECIMAL(38,0)
  *    so the (pair·N·1e6) product cannot overflow at any corpus
  *    size an int64 token count can describe.
  *  - count-min: one partial-agg shuffle to a ≤ CmDepth·CmWidth-row
  *    grid; the grid (not the corpus) broadcasts to the estimate
  *    join, so serving stays O(queries) at any corpus size.
  *  - HLL: one partial-agg shuffle to (sources × HllM) rows; max is
  *    both the update and the merge, so per-source sketches union
  *    into the corpus sketch without touching rows again.
  *
  * All three emit integer-exact columns (integral divide, bit-level
  * ranks) so the DuckDB oracles match hash-for-hash — the same
  * cross-engine-exactness discipline as [[Curation]]'s bit-length
  * logs and ppm shares.
  */
object Sketches {

  // --- PMI phrase mining ------------------------------------------------

  /** word2phrase discount: bigrams must be seen more than this many
    * times before they can score at all (kills hapax collocations).
    */
  val PmiDiscount = 2L

  /** Minimum phrase score, in parts-per-million of the word2phrase
    * statistic score = (pair_cnt − δ)·N / (cnt_a·cnt_b). Pairs drawn
    * independently score ≈ 1e6 ppm by construction, so 1.5e6 keeps
    * only pairs co-occurring at least 1.5× their independence rate —
    * a real collocation floor on any corpus, and non-trivial even on
    * the near-independent synthetic fixture.
    */
  val PmiMinScorePpm = 1500000L

  /** Collocation candidates over the whitespace-token stream: every
    * adjacent bigram whose discounted word2phrase score clears
    * [[PmiMinScorePpm]]. Output is one row per surviving bigram with
    * its exact pair count and integer-exact score_ppm.
    */
  def pmiPhrases(docs: DataFrame): DataFrame = {
    // bind the token array first (HOF-over-unbound-split re-evaluates
    // the split per element — same pitfall note as qHeavyHitters)
    val tok = docs.select(tokens(col("text")).as("toks"))
    val uni = tok.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val pairs = tok.select(explode(bigrams(col("toks"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") > PmiDiscount)
      // tokens are whitespace-split, so the joined bigram contains
      // exactly one space: the split-back is lossless
      .withColumn("term_a", split(col("bg"), " ").getItem(0))
      .withColumn("term_b", split(col("bg"), " ").getItem(1))
    val n = uni.agg(sum(col("cnt")).as("n_tok"))
    // every factor is cast to DECIMAL(38,0) BEFORE multiplying:
    // pair·1e6·n_tok and cnt_a·cnt_b both overflow int64 at real
    // corpus token counts; `div` on decimals is the integral divide
    // DuckDB's HUGEINT `//` mirrors (operands are all positive)
    pairs
      .join(uni.select(col("w").as("term_a"), col("cnt").as("cnt_a")), Seq("term_a"))
      .join(uni.select(col("w").as("term_b"), col("cnt").as("cnt_b")), Seq("term_b"))
      .crossJoin(broadcast(n))
      .withColumn("score_ppm", expr(
        s"CAST(pair_cnt - $PmiDiscount AS DECIMAL(38,0)) * 1000000 " +
          "* CAST(n_tok AS DECIMAL(38,0)) " +
          "div (CAST(cnt_a AS DECIMAL(38,0)) * CAST(cnt_b AS DECIMAL(38,0)))"))
      .filter(col("score_ppm") >= PmiMinScorePpm)
      .select(col("term_a"), col("term_b"), col("pair_cnt"), col("score_ppm"))
  }

  def qPmiPhrases(s: SparkSession, dir: String): DataFrame =
    pmiPhrases(Tables.documents(s, dir))

  /** Greedy word2phrase REWRITE — the apply half of [[pmiPhrases]]:
    * scan each doc's token stream left-to-right and join every
    * scored pair whose left token wasn't consumed by the previous
    * join, exactly word2phrase's one-pass semantics. Distributed
    * form: within a maximal run of consecutive flagged positions,
    * joins land at even offsets from the run start — so the
    * sequential scan becomes per-doc windows (flag via lead + a
    * broadcast phrase join; run grouping via the gaps-and-islands
    * row_number trick; parity via min-over-run), one doc_id shuffle
    * reused across all of them, never a global sort.
    *
    * Cardinality contract: the phrase table is corpus-level (pairs
    * clearing [[PmiMinScorePpm]]) — thousands at most, always the
    * broadcast side.
    */
  def phraseApply(docs: DataFrame, phrases: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("nxt", lead(col("w"), 1).over(wDoc))
    val flagged = tok
      .join(broadcast(phrases.select(col("term_a").as("w"),
        col("term_b").as("nxt"), lit(1).as("f"))), Seq("w", "nxt"), "left")
      .withColumn("f", coalesce(col("f"), lit(0)))
    val wRun = Window.partitionBy(col("doc_id"), col("f")).orderBy(col("pos"))
    val grouped = flagged
      .withColumn("grp", col("pos") - row_number().over(wRun))
    val wGrp = Window.partitionBy(col("doc_id"), col("f"), col("grp"))
    val joined = grouped
      .withColumn("joined",
        col("f") === 1 && (col("pos") - min(col("pos")).over(wGrp)) % 2 === 0)
      .withColumn("consumed",
        coalesce(lag(col("joined"), 1).over(wDoc), lit(false)))
    joined
      .withColumn("out", when(col("joined"),
        concat(col("w"), lit("_"), col("nxt"))).otherwise(col("w")))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("joined"), 1L).otherwise(0L)).as("n_phrases"),
        array_join(transform(
          array_sort(collect_list(when(!col("consumed"),
            struct(col("pos"), col("out"))))),
          x => x.getField("out")), " ").as("text_phrased"))
  }

  def qPhraseApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    phraseApply(docs, pmiPhrases(docs))
  }

  // --- count-min sketch ---------------------------------------------------

  /** Grid shape: depth 4 independent hash rows × width 1024 buckets.
    * ε = e/1024 ≈ 0.27% of stream length per-row overestimate bound
    * at δ = e⁻⁴ failure odds — and the whole grid is 4096 longs no
    * matter how large the corpus.
    */
  val CmDepth = 4
  val CmWidth = 1024L

  /** Row-i bucket of a term: the shared md5-prefix hash over the
    * salted term, mod width — replicated verbatim by the oracle.
    */
  def cmBucket(w: Column, i: Int): Column =
    tokenHash(concat(w, lit("#cm" + i))) % CmWidth

  /** The sketch grid of a term stream: (row, bucket) → summed count.
    * One partial-agg shuffle; output ≤ CmDepth·CmWidth rows. Grids
    * are mergeable by elementwise addition (counts are linear), the
    * law [[https://dl.acm.org/doi/10.1016/j.jalgor.2003.12.001 CM05]]
    * serving relies on; SketchesSpec pins it on a split corpus.
    */
  def countMinSketch(terms: DataFrame): DataFrame =
    terms.select(explode(array((0 until CmDepth).map(i =>
        struct(lit(i.toLong).as("r"), cmBucket(col("w"), i).as("bucket"))): _*)).as("rb"))
      .select(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Per-term exact count next to the count-min estimate (min over
    * the term's CmDepth grid cells) and the overestimate — the audit
    * frame you watch when sizing the grid for a corpus. The estimate
    * join broadcasts the GRID (≤ 4096 rows), never the vocabulary;
    * the vocabulary side stays a distributed frame, so the same plan
    * serves any bounded query set at 100 TB.
    */
  def qCountMin(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
    val grid = countMinSketch(terms)
    val exact = terms.groupBy(col("w")).agg(count(lit(1)).as("exact_cnt"))
    exact
      .select(col("w"), col("exact_cnt"),
        explode(array((0 until CmDepth).map(i =>
          struct(lit(i.toLong).as("r"), cmBucket(col("w"), i).as("bucket"))): _*)).as("rb"))
      .select(col("w"), col("exact_cnt"),
        col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .join(broadcast(grid), Seq("r", "bucket"))
      .groupBy(col("w"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .select(col("w").as("term"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("over_cnt"))
  }

  /** Count-min JOIN-SIZE estimate (sketch inner product, CM05 §4.2):
    * |A ⋈ B on key| = Σ_k a(k)·b(k), upper-bounded by
    * min over rows r of Σ_b cmA[r][b]·cmB[r][b] and within
    * (e/width)·|A|·|B| of it w.p. 1 − e^−depth. The sketch twin of
    * Relational.qJoinEstimate for sides that never co-locate (two
    * streams, two clusters, a catalog of pre-sketched tables): each
    * side collapses to ≤ 4096 longs, the estimate is a 4096-row
    * join — no key ever shuffles. Output one row: est_pairs.
    *
    * A depth row with ZERO overlapping non-empty buckets has true
    * inner product 0 and must contribute 0 to the min (r10 advice:
    * the earlier inner join silently dropped such rows, so disjoint
    * key sets grossly overestimated — and fully disjoint sketches
    * returned a NULL instead of 0). The left join from a generated
    * 0..depth−1 row frame guarantees every depth row votes.
    */
  def cmJoinEstimate(aKeys: DataFrame, bKeys: DataFrame): DataFrame = {
    val ip = countMinSketch(aKeys)
      .join(countMinSketch(bKeys).withColumnRenamed("cnt", "cnt_b"),
        Seq("r", "bucket"))
      .groupBy(col("r")).agg(sum(col("cnt") * col("cnt_b")).as("ip"))
    aKeys.sparkSession.range(CmDepth).select(col("id").as("r"))
      .join(ip, Seq("r"), "left")
      .agg(min(coalesce(col("ip"), lit(0L))).as("est_pairs"))
  }

  // --- HyperLogLog-style distinct sketch ----------------------------------

  /** Register count (2^6). Standard error ≈ 1.04/√64 = 13%. */
  val HllM = 64L

  /** Rank cap: the post-bucket hash remainder carries 48−6 = 42
    * bits, so 42 trailing zeros is the deepest observable rank and
    * an all-zero remainder reads as rank 43.
    */
  val HllZeroRank = 43L

  /** Trailing-zero rank of the term hash's remainder after the
    * bucket bits — the HLL register update, in arithmetic both
    * engines evaluate bit-identically: isolate the lowest set bit
    * with x & −x, then its position is length(bin(·)).
    */
  def hllRank(h: Column): Column = {
    val rest = shiftright(h, 6)
    when(rest === 0L, lit(HllZeroRank))
      .otherwise(length(bin(rest.bitwiseAND(-rest))).cast("long"))
  }

  /** Per-source HLL registers of a (source, w) term stream — one row
    * per (source, touched bucket) with the max trailing-zero rank.
    * max is both the update and the merge, so duplicates never need
    * a distinct pass and shard sketches union by the same aggregate.
    */
  def hllRegisters(terms: DataFrame): DataFrame = {
    val h = tokenHash(col("w"))
    terms
      .select(col("source"), (h % HllM).as("bucket"), hllRank(h).as("rank"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rank")).as("max_rank"))
  }

  /** Per-source HLL registers over the token stream, plus the merged
    * corpus sketch as source 'ALL' — the merge is the elementwise
    * max of the per-source rows, demonstrated in the same frame. The
    * float estimate stays OUT of the frame (registers are the exact,
    * mergeable artifact; the estimator is [[hllEstimate]],
    * spec-audited against exact distinct counts).
    */
  def qHllSketch(s: SparkSession, dir: String): DataFrame = {
    val reg = hllRegisters(Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w")))
    reg.unionAll(
      reg.groupBy(col("bucket"))
        .agg(max(col("max_rank")).as("max_rank"))
        .select(lit("ALL").as("source"), col("bucket"), col("max_rank")))
  }

  /** Driver-side HLL estimator over one source's registers (raw
    * estimate with the small-range linear-counting correction —
    * Flajolet et al. 2007 §4). Registers absent from the frame are
    * empty buckets (rank 0).
    */
  def hllEstimate(registers: Map[Long, Long]): Double = {
    val m = HllM.toDouble
    val alpha = 0.709 // alpha_64
    val zSum = (0L until HllM).map(b =>
      math.pow(2.0, -registers.getOrElse(b, 0L).toDouble)).sum
    val raw = alpha * m * m / zSum
    val zeros = HllM - registers.count(_._2 > 0L)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros.toDouble) else raw
  }

  // --- portable bloom filter -----------------------------------------------

  /** Bloom geometry for the membership artifact: 4096 bits × 3
    * probes. Sized so the fixture's ~800-member benchmark set drives
    * a MEASURABLE false-positive rate (load kn/m ≈ 0.6 ⇒ FPR ≈ 11%)
    * — this is the audit frame for choosing production geometry, not
    * the production screen itself ([[graft.operators.TextAnalysis]]'s
    * bloomDecontaminate carries the codegen'd Spark-sketch screen;
    * this artifact is the PORTABLE, engine-neutral form: a relation
    * of set bit positions any system can re-join, mergeable across
    * shards by plain distinct union).
    */
  val BloomBits = 4096L
  val BloomK = 3

  /** Probe-i bit position of a term — salted md5-prefix hash mod m,
    * replicated verbatim by the oracle.
    */
  def bloomPos(w: Column, i: Int): Column =
    tokenHash(concat(w, lit("#bl" + i))) % BloomBits

  /** The set-bit relation of a member-term frame (col `w`): one row
    * per distinct bit position. Union-distinct IS the bloom OR — the
    * merge law shard builds rely on (idempotent, so the streaming
    * twin needs no replay screen; see SketchesSpec).
    */
  def bloomBits(members: DataFrame): DataFrame =
    members.select(explode(array((0 until BloomK).map(i =>
        bloomPos(col("w"), i)): _*)).as("pos"))
      .distinct()

  /** Membership audit of the corpus bigram domain against a bloom of
    * the benchmark docs' bigrams (doc_id % 10 = 0 — the same
    * held-out convention as the DSIR seed): per distinct probe term,
    * the exact membership next to the bloom verdict and the
    * false-positive flag. No-false-negative is structural (a
    * member's bits are all set by construction); the false-positive
    * RATE is the number this frame exists to measure before sizing a
    * production screen. The bit table (≤ BloomBits rows) broadcasts
    * to the probe join; the probe side stays distributed.
    */
  def qBloomAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val grams = (d: DataFrame) => d
      .select(tokens(col("text")).as("toks"))
      .select(explode(bigrams(col("toks"))).as("w"))
      .distinct()
    val bench = grams(docs.filter(col("doc_id") % 10 === 0))
    val bits = bloomBits(bench)
    val probed = grams(docs)
      .select(col("w"), explode(array((0 until BloomK).map(i =>
        bloomPos(col("w"), i)): _*)).as("pos"))
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
      .groupBy(col("w"))
      .agg((sum(coalesce(col("hit"), lit(0))) === BloomK).as("bloom_hit"))
    probed
      .join(bench.withColumn("m", lit(1)), Seq("w"), "left")
      .select(col("w").as("term"),
        col("m").isNotNull.as("exact_member"),
        col("bloom_hit"),
        (col("bloom_hit") && col("m").isNull).as("false_positive"))
  }

  // --- mergeable log2 length histogram --------------------------------------

  /** Per-source token-length distribution in log₂ bins — the
    * fixed-size (≤ 64 bins/source), addition-mergeable shape summary
    * a shard publishes so corpus-level length drift is monitorable
    * without touching rows again. bin = floor(log2 n)+1 for n ≥ 1
    * via length(bin(n)) — the same bit-exact integer log as
    * [[graft.operators.Curation]]'s classifier — with bin 0 for
    * empty docs; bounds columns make the artifact self-describing.
    * Merged 'ALL' rows = the per-source sums, emitted in-frame like
    * [[qHllSketch]].
    */
  /** Per-(source, log2-bin) doc-count partials — the addition-
    * mergeable unit both the batch query and the STREAMING twin
    * ([[graft.streaming.DocStreams.runLenHistStream]]) fold.
    */
  def lenHistPartial(docs: DataFrame): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    docs.select(col("source"),
        when(n <= 0, 0L).otherwise(length(bin(n)).cast("long")).as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Fold partials (any batch slicing) to the served histogram:
    * summed per-source rows + self-describing bin bounds + the
    * merged 'ALL' rollup in-frame.
    */
  def lenHistServe(partials: DataFrame): DataFrame = {
    val per = partials.groupBy(col("source"), col("bin"))
      .agg(sum(col("n_docs")).as("n_docs"))
      .withColumn("bin_lo", when(col("bin") === 0, 0L)
        .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT) - 1)")))
      .withColumn("bin_hi", when(col("bin") === 0, 0L)
        .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT)) - 1")))
    per.select(col("source"), col("bin"), col("bin_lo"), col("bin_hi"), col("n_docs"))
      .unionAll(
        per.groupBy(col("bin"), col("bin_lo"), col("bin_hi"))
          .agg(sum(col("n_docs")).as("n_docs"))
          .select(lit("ALL").as("source"), col("bin"), col("bin_lo"),
            col("bin_hi"), col("n_docs")))
  }

  def qLenHist(s: SparkSession, dir: String): DataFrame =
    lenHistServe(lenHistPartial(Tables.documents(s, dir)))

  // --- bottom-k quantile sketch ---------------------------------------

  /** Bottom-k sample size (the k of the min-hash sample). */
  val QsK = 128
  /** Audited quantiles, in percent. */
  val QsPhis = Seq(10L, 25L, 50L, 75L, 90L)
  /** Coarse cell width for the exact-side two-level prefix sum. */
  val QsCoarse = 64L

  /** Bottom-k uniform sample of the corpus by content-independent
    * hash — the smallest [[QsK]] `tokenHash(doc_id)` values, each
    * carrying its document's token count. This is the KMV/bottom-k
    * family (Bar-Yossef et al. 2002; Cohen & Kaplan 2007): because
    * "keep the k smallest hashes" commutes with union, the sample is
    * MERGEABLE across shards (union, then re-trim to k) and
    * IDEMPOTENT under replay (re-inserting a seen doc re-asserts a
    * hash already present) — the same no-coordination merge law as
    * the HLL registers, and the only sketch in the tier that yields
    * QUANTILES: the r-th smallest value in a k-row uniform sample
    * estimates the (r/k)-quantile with O(1/√k) rank error.
    */
  def bottomKSample(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("v"),
        tokenHash(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h").asc, col("doc_id").asc).limit(QsK)
      .select(col("doc_id"), col("v"), col("h"))

  /** Quantile-sketch audit frame: for each φ in [[QsPhis]], the
    * bottom-k sample's quantile estimate next to the EXACT corpus
    * quantile and the signed error — the "can serving trust a
    * 128-row summary of the length distribution" sizing table.
    *
    * Shape: the sketch side is one narrow pass + a TakeOrdered
    * (per-partition k-heaps, O(k) driver merge — zero shuffles);
    * ranks within the k-row sample come from a broadcast self-join
    * count, not a window. The exact side is the audit's price, paid
    * scalably: one (value)-histogram partial agg, then the
    * calibrate-style coarse/fine two-level prefix sum (broadcast
    * self-join over ≤ O(D/coarse) cells + a fine window PARTITIONED
    * by coarse cell), then a 5-row broadcast φ-target join — no
    * unpartitioned WindowExec, no O(D²) blowup at a 100 TB value
    * domain. Production keeps only the sample; the exact rung exists
    * to certify it, the matryoshka-audit posture.
    */
  def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("v"))
    val n = d.count()
    val sCount = math.min(QsK.toLong, n)
    val samp = bottomKSample(Tables.documents(s, dir)).select(col("doc_id"), col("v"))
    val ranked = samp
      .join(broadcast(samp.toDF("id2", "v2")),
        struct(col("v2"), col("id2")) <= struct(col("v"), col("doc_id")))
      .groupBy(col("doc_id"), col("v")).agg(count(lit(1)).as("rk"))
    val hist = d.groupBy(col("v")).agg(count(lit(1)).as("freq"))
      .withColumn("coarse", expr(s"v div $QsCoarse"))
    val coarseTot = hist.groupBy(col("coarse")).agg(sum(col("freq")).as("ccnt"))
    val cPrefix = coarseTot.select(col("coarse"))
      .join(broadcast(coarseTot.select(col("coarse").as("hc"), col("ccnt").as("hn"))),
        col("hc") < col("coarse"), "left")
      .groupBy(col("coarse")).agg(coalesce(sum(col("hn")), lit(0L)).as("cprefix"))
    val wFine = Window.partitionBy(col("coarse")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("fcum", sum(col("freq")).over(wFine))
      .join(broadcast(cPrefix), Seq("coarse"))
      .select(col("v").as("xv"), (col("cprefix") + col("fcum")).as("cum"))
    val targets = QsPhis
      .map(p => (p, (p * sCount + 99) / 100, (p * n + 99) / 100, n, sCount))
      .toDF("phi", "rk_s", "rk_n", "n_corpus", "n_sample")
    val est = targets.join(broadcast(ranked), col("rk") === col("rk_s"))
      .select(col("phi"), col("v").as("est_v"))
    val exact = cum.join(broadcast(targets.select(col("phi").as("xphi"), col("rk_n"))),
        col("cum") >= col("rk_n"))
      .groupBy(col("xphi")).agg(min(col("xv")).as("exact_v"))
    targets.join(est, Seq("phi"))
      .join(exact, col("phi") === col("xphi"))
      .select(col("phi"), col("est_v"), col("exact_v"),
        (col("est_v") - col("exact_v")).as("err_v"),
        col("rk_s"), col("rk_n"), col("n_corpus"), col("n_sample"))
  }

  // --- KMV set-operation sketch -----------------------------------------

  /** KMV synopsis size (k smallest distinct hashes per source). */
  val KmvK = 256
  /** Hash range: tokenHash / shingleHashes are 48-bit md5 prefixes,
    * uniform on [0, 2^48).
    */
  val KmvH: Long = 1L << 48
  /** The unbiased-estimator numerator (k−1)·H (Beyer et al. 2007). */
  val KmvNum: Long = (KmvK - 1).toLong * KmvH

  /** Per-source KMV synopsis: the [[KmvK]] smallest DISTINCT shingle
    * hashes, built by one bounded-state partial aggregation
    * ([[graft.functions.BottomKSet]]) — O(k) task state however many
    * billions of distinct shingles a source owns, no pre-`distinct`
    * shuffle, no per-source sort. The k-trim commutes with union, so
    * per-shard synopses merge with no coordination (the HLL posture),
    * but unlike HLL the surviving hash VALUES support intersection
    * estimates too ([[kmvSetOps]]) — the one set operation HLL's
    * registers cannot answer. Same 3-shingle universe as
    * `q_source_overlap` / `q_sketch_overlap`, so all three tiers
    * (exact matrix / minhash Jaccard / KMV cardinalities) measure the
    * same sets.
    */
  def kmvSourceSketch(docs: DataFrame): DataFrame = {
    val bk = udaf(new graft.functions.BottomKSet(KmvK))
    docs.select(col("source"),
        explode(shingleHashes(tokens(col("text")), 3)).as("h"))
      .groupBy(col("source")).agg(bk(col("h")).as("kmv"))
  }

  /** Distinct-count estimate from a KMV synopsis column: exact when
    * the synopsis is untrimmed (it IS the distinct set), else the
    * unbiased (k−1)·H / h₍k₎ (Beyer et al. SIGMOD'07) in pure int64
    * — (k−1)·H ≈ 7.2e16 cannot overflow, and `div` keeps the
    * arithmetic reproducible in DuckDB (`//`).
    */
  private def kmvEst(arr: String): Column =
    when(size(col(arr)) < KmvK, size(col(arr)).cast("long"))
      .otherwise(expr(s"${KmvNum}L div element_at($arr, $KmvK)"))

  /** Pairwise source set-operation estimates from KMV synopses:
    * distinct cardinality per side, union (the k-trim of the merged
    * synopses is itself the union's KMV), intersection (ρ·D̂ over the
    * merged synopsis — Beyer et al.'s set-expression estimator), and
    * the implied Jaccard. The sketch table is sources-sized, so the
    * pair stage is a broadcast self-join over O(sources²) rows with
    * O(k) array work each — nothing corpus-proportional survives the
    * one partial-agg shuffle in [[kmvSourceSketch]]. When a pair's
    * merged synopsis is untrimmed (small sources), every column is
    * EXACT by construction: est_union = |A∪B|, n_inter = |A∩B|, and
    * the ρ·D̂ product collapses to |A∩B| — the small-case degeneracy
    * the spec pins. The ρ·D̂ product rides DECIMAL(38,0) (the PMI
    * idiom): n_inter·est_union can reach 256·7.2e16 ≈ 1.8e19, past
    * int64.
    */
  def kmvSetOps(docs: DataFrame): DataFrame =
    kmvSetOpsFromSketch(kmvSourceSketch(docs))

  /** Pair stage over an existing (source, kmv) synopsis frame — the
    * entry point streamed/persisted synopses serve through.
    */
  def kmvSetOpsFromSketch(sk: DataFrame): DataFrame = {
    val a = sk.select(col("source").as("src_a"), col("kmv").as("kmv_a"))
    val b = sk.select(col("source").as("src_b"), col("kmv").as("kmv_b"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("kmv_u",
        slice(array_sort(array_distinct(concat(col("kmv_a"), col("kmv_b")))),
          1, KmvK))
      .withColumn("n_inter", expr(
        "cast(size(filter(kmv_u, x -> array_contains(kmv_a, x)" +
          " AND array_contains(kmv_b, x))) as long)"))
      .withColumn("est_union", kmvEst("kmv_u"))
      .withColumn("est_inter", expr(
        "cast((cast(n_inter as decimal(38,0)) * est_union)" +
          " div size(kmv_u) as long)"))
      .select(col("src_a"), col("src_b"),
        kmvEst("kmv_a").as("est_a"), kmvEst("kmv_b").as("est_b"),
        col("est_union"), col("n_inter"), col("est_inter"),
        expr(s"(n_inter * 1000000L) div size(kmv_u)").as("est_jaccard_ppm"))
  }

  def qKmvSetOps(s: SparkSession, dir: String): DataFrame =
    kmvSetOps(Tables.documents(s, dir))

  // --- AMS F2 (second frequency moment) sketch ---------------------------

  /** Number of independent ±1 sketches (mean of squares over them). */
  val F2Sketches = 16

  /** The k ±1 sketch sums per group — S_i(g) = Σ_tokens σ_i(token),
    * σ_i(w) = ±1 from the md5 hash parity of w#f2i (the established
    * derandomization: four-wise independence replaced by md5, so both
    * engines replay the sketch bit-exactly). LINEAR in the token
    * multiset — the merge law S_i(A ⊎ B) = S_i(A) + S_i(B) is exact
    * integer equality, spec-pinned. One partial-agg shuffle to a
    * (groups × k)-scalar frame.
    */
  private[graft] def f2SketchSums(terms: DataFrame): DataFrame =
    terms.groupBy(col("gk"))
      .agg(count(lit(1)).as("n_tokens"),
        (0 until F2Sketches).map(i =>
          sum(when(tokenHash(concat(col("w"), lit(s"#f2$i"))) % 2 === 0, 1L)
            .otherwise(-1L)).as(s"s$i")): _*)

  /** AMS second-frequency-moment sketch (Alon, Matias & Szegedy,
    * STOC'96) per source — F2 = Σ_w cnt(w)² is the token-frequency
    * SKEW statistic (self-join size of the token table, the repeated-
    * token analogue of HLL's distinct count; count-min answers point
    * frequency, HLL cardinality, F2 skew — the classic streaming
    * trio, now complete). Estimate = mean over [[F2Sketches]]
    * derandomized ±1 sketches of S_i² (E[S²] = F2 exactly under
    * 4-wise independence; the md5 signs make it a deterministic,
    * cross-engine-exact estimator — its accuracy on this corpus is
    * part of the oracle-checked output, the minhash-estimator
    * posture). Exact F2 rides one (source, w) partial agg for the
    * audit column; the sketch itself never materializes per-word
    * state — the 100 TB form keeps only sources × k longs, and
    * sketches MERGE by addition (linear; spec-pinned exact).
    */
  def qF2Sketch(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("source").as("gk"), explode(tokens(col("text"))).as("w"))
    // squared terms ride DECIMAL(38,0) (the PMI/26ag headroom
    // discipline): s_i and c are bounded by the group's token count,
    // so s_i² / c² pass ~3e9 tokens-per-source where int64 silently
    // wraps on the Spark side while the DuckDB twin raises. The mean
    // over sketches is a remainder-subtract floor division kept in
    // decimal — `div` truncates its result to int64 (measured: it
    // WRAPS past 2^63) — mirroring DuckDB's HUGEINT `//` exactly up
    // to ~1e32 (n_tokens ~1e16 per source, beyond any corpus).
    // The two wide columns are EMITTED as canonical decimal strings
    // (r16, the r1/r2 lesson): only ≤64-bit ints and strings hash
    // identically under the driver's typed compare — DuckDB's
    // DECIMAL/HUGEINT round-trip to float64 driver-side while Spark's
    // parquet decimal stays exact, so equal VALUES still hash apart
    // (r15: rows/schema green, hash red). VARCHAR↔string is exact at
    // any width, so the >2^63 headroom survives the canonicalization
    // (SketchesSpec pins the representation past int64).
    val s2sum = "(" + (0 until F2Sketches)
      .map(i => s"CAST(s$i AS DECIMAL(38,0)) * s$i").mkString(" + ") + ")"
    val sk = f2SketchSums(terms)
      .withColumn("s2", expr(s2sum))
      .withColumn("est_f2",
        expr(s"CAST((s2 - s2 % $F2Sketches) / $F2Sketches AS DECIMAL(38,0))"))
    val exact = terms.groupBy(col("gk"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("gk"))
      .agg(sum(col("c").cast("decimal(38,0)") * col("c")).as("exact_f2"))
    sk.join(exact, Seq("gk"))
      .select(col("gk").as("source"), col("n_tokens"),
        col("exact_f2").cast("string").as("exact_f2"),
        col("est_f2").cast("string").as("est_f2"))
  }

  // --- registry -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmv_setops" -> qKmvSetOps _,
    "q_pmi_phrases" -> qPmiPhrases _,
    "q_phrase_apply" -> qPhraseApply _,
    "q_count_min" -> qCountMin _,
    "q_hll_sketch" -> qHllSketch _,
    "q_f2_sketch" -> qF2Sketch _,
    "q_bloom_audit" -> qBloomAudit _,
    "q_quantile_sketch" -> qQuantileSketch _,
    "q_len_hist" -> qLenHist _)

  private val toksSql = "string_split_regex(lower(trim(text)), '\\s+')"

  val oracles: Map[String, String] = Map(
    "q_f2_sketch" -> {
      val sums = (0 until F2Sketches).map(i =>
        s"sum(CASE WHEN ('0x' || substr(md5(w || '#f2$i'), 1, 12))::BIGINT % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS s$i")
        .mkString(",\n    ")
      val sq = (0 until F2Sketches)
        .map(i => s"s$i::HUGEINT * s$i").mkString(" + ")
      s"""WITH tok AS (SELECT source AS gk, unnest($toksSql) AS w
        |  FROM documents),
        |sk AS (SELECT gk, count(*)::BIGINT AS n_tokens,
        |    $sums
        |  FROM tok GROUP BY gk),
        |ex AS (SELECT gk, sum(c::HUGEINT * c)::DECIMAL(38,0) AS exact_f2 FROM (
        |  SELECT gk, w, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2)
        |  GROUP BY gk)
        |SELECT sk.gk AS source, sk.n_tokens, ex.exact_f2::VARCHAR AS exact_f2,
        |  (($sq) // $F2Sketches)::DECIMAL(38,0)::VARCHAR AS est_f2
        |FROM sk JOIN ex USING (gk)""".stripMargin
    },
    "q_kmv_setops" ->
      s"""WITH tok AS (
        |  SELECT source, unnest(hs) AS h FROM (
        |    SELECT source,
        |      list_transform(range(1, greatest(len(toks) - 1, 1)),
        |        i -> ('0x' || substr(md5(concat_ws('', toks[i], toks[i+1], toks[i+2])), 1, 12))::BIGINT)
        |        AS hs
        |    FROM (SELECT source, $toksSql AS toks FROM documents))),
        |d AS (SELECT DISTINCT source, h FROM tok),
        |bk AS (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM d),
        |sk AS (SELECT source, h FROM bk WHERE rn <= $KmvK),
        |st AS (SELECT source, count(*)::BIGINT AS n, max(h) AS hk
        |  FROM sk GROUP BY source),
        |est AS (SELECT source, n,
        |    CASE WHEN n < $KmvK THEN n ELSE $KmvNum // hk END AS e FROM st),
        |pr AS (SELECT a.source AS sa, b.source AS sb, a.e AS est_a, b.e AS est_b
        |  FROM est a JOIN est b ON a.source < b.source),
        |uni AS (SELECT p.sa, p.sb, s.h, count(*)::BIGINT AS sides
        |  FROM pr p JOIN sk s ON s.source = p.sa OR s.source = p.sb
        |  GROUP BY p.sa, p.sb, s.h),
        |ubk AS (SELECT sa, sb, h, sides,
        |    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM uni),
        |us AS (SELECT sa, sb, count(*)::BIGINT AS un, max(h) AS uhk,
        |    sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END)::BIGINT AS ni
        |  FROM ubk WHERE rn <= $KmvK GROUP BY sa, sb),
        |f AS (SELECT sa, sb, un, ni,
        |    CASE WHEN un < $KmvK THEN un ELSE $KmvNum // uhk END AS est_union
        |  FROM us)
        |SELECT p.sa AS src_a, p.sb AS src_b, p.est_a, p.est_b,
        |  f.est_union, f.ni AS n_inter,
        |  ((f.ni::HUGEINT * f.est_union::HUGEINT) // f.un)::BIGINT AS est_inter,
        |  ((f.ni * 1000000) // f.un)::BIGINT AS est_jaccard_ppm
        |FROM pr p JOIN f ON f.sa = p.sa AND f.sb = p.sb""".stripMargin,
    "q_quantile_sketch" ->
      s"""WITH d AS (SELECT doc_id, len($toksSql)::BIGINT AS v,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM documents),
        |nn AS (SELECT count(*)::BIGINT AS n FROM d),
        |samp AS (SELECT doc_id, v FROM d ORDER BY h, doc_id LIMIT $QsK),
        |ss AS (SELECT count(*)::BIGINT AS s FROM samp),
        |sr AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rk FROM samp),
        |er AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rk FROM d),
        |ph AS (SELECT unnest([${QsPhis.mkString(", ")}])::BIGINT AS phi),
        |t AS (SELECT phi, ((phi * s + 99) // 100)::BIGINT AS rk_s,
        |    ((phi * n + 99) // 100)::BIGINT AS rk_n, n, s
        |  FROM ph CROSS JOIN nn CROSS JOIN ss)
        |SELECT t.phi, e.v AS est_v, x.v AS exact_v,
        |  (e.v - x.v)::BIGINT AS err_v, t.rk_s, t.rk_n,
        |  t.n AS n_corpus, t.s AS n_sample
        |FROM t JOIN sr e ON e.rk = t.rk_s JOIN er x ON x.rk = t.rk_n""".stripMargin,
    "q_pmi_phrases" ->
      s"""WITH tok AS (SELECT $toksSql AS t FROM documents),
        |cu AS (SELECT w, count(*)::BIGINT AS cnt
        |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
        |n AS (SELECT sum(cnt)::BIGINT AS n_tok FROM cu),
        |cb AS (SELECT bg, count(*)::BIGINT AS pair_cnt
        |  FROM (SELECT unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i + 1])) AS bg FROM tok)
        |  GROUP BY bg HAVING count(*) > $PmiDiscount),
        |sp AS (SELECT string_split(bg, ' ')[1] AS term_a,
        |  string_split(bg, ' ')[2] AS term_b, pair_cnt FROM cb)
        |SELECT sp.term_a, sp.term_b, sp.pair_cnt,
        |  ((sp.pair_cnt - $PmiDiscount)::HUGEINT * 1000000 * n.n_tok
        |    // (a.cnt::HUGEINT * b.cnt))::BIGINT AS score_ppm
        |FROM sp JOIN cu a ON sp.term_a = a.w JOIN cu b ON sp.term_b = b.w
        |CROSS JOIN n
        |WHERE (sp.pair_cnt - $PmiDiscount)::HUGEINT * 1000000 * n.n_tok
        |  // (a.cnt::HUGEINT * b.cnt) >= $PmiMinScorePpm""".stripMargin,
    "q_phrase_apply" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
        |cu AS (SELECT w, count(*)::BIGINT AS cnt
        |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
        |n AS (SELECT sum(cnt)::BIGINT AS n_tok FROM cu),
        |cb AS (SELECT bg, count(*)::BIGINT AS pair_cnt
        |  FROM (SELECT unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i + 1])) AS bg FROM tok)
        |  GROUP BY bg HAVING count(*) > $PmiDiscount),
        |sp AS (SELECT string_split(bg, ' ')[1] AS term_a,
        |  string_split(bg, ' ')[2] AS term_b, pair_cnt FROM cb),
        |phr AS (SELECT sp.term_a, sp.term_b
        |  FROM sp JOIN cu a ON sp.term_a = a.w JOIN cu b ON sp.term_b = b.w
        |  CROSS JOIN n
        |  WHERE (sp.pair_cnt - $PmiDiscount)::HUGEINT * 1000000 * n.n_tok
        |    // (a.cnt::HUGEINT * b.cnt) >= $PmiMinScorePpm),
        |pos AS (SELECT doc_id, u.i AS i, u.w AS w, u.nxt AS nxt FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |    i -> struct_pack(i := i, w := t[i], nxt := t[i + 1]))) AS u
        |  FROM tok)),
        |flg AS (SELECT p.doc_id, p.i, p.w, p.nxt,
        |    CASE WHEN ph.term_a IS NOT NULL THEN 1 ELSE 0 END AS f
        |  FROM pos p LEFT JOIN phr ph
        |    ON p.w = ph.term_a AND p.nxt = ph.term_b),
        |run AS (SELECT *, i - row_number()
        |    OVER (PARTITION BY doc_id, f ORDER BY i) AS grp FROM flg),
        |jn AS (SELECT *, (f = 1 AND (i - min(i)
        |    OVER (PARTITION BY doc_id, f, grp)) % 2 = 0) AS joined FROM run),
        |cm AS (SELECT *, coalesce(lag(joined)
        |    OVER (PARTITION BY doc_id ORDER BY i), false) AS consumed FROM jn)
        |SELECT doc_id,
        |  sum(CASE WHEN joined THEN 1 ELSE 0 END)::BIGINT AS n_phrases,
        |  string_agg(CASE WHEN NOT consumed THEN
        |      (CASE WHEN joined THEN w || '_' || nxt ELSE w END) END,
        |    ' ' ORDER BY i) AS text_phrased
        |FROM cm GROUP BY doc_id""".stripMargin,
    "q_count_min" ->
      s"""WITH u AS (SELECT unnest($toksSql) AS w FROM documents),
        |occ AS (SELECT u.w, r.r,
        |    ('0x' || substr(md5(u.w || '#cm' || r.r), 1, 12))::BIGINT
        |      % $CmWidth AS bucket
        |  FROM u CROSS JOIN range(0, $CmDepth) r(r)),
        |grid AS (SELECT r, bucket, count(*)::BIGINT AS cnt
        |  FROM occ GROUP BY r, bucket),
        |exact AS (SELECT w, count(*)::BIGINT AS exact_cnt FROM u GROUP BY w),
        |cells AS (SELECT DISTINCT w, r, bucket FROM occ)
        |SELECT e.w AS term, e.exact_cnt, min(g.cnt)::BIGINT AS est_cnt,
        |  (min(g.cnt) - e.exact_cnt)::BIGINT AS over_cnt
        |FROM exact e JOIN cells c ON e.w = c.w
        |JOIN grid g ON c.r = g.r AND c.bucket = g.bucket
        |GROUP BY e.w, e.exact_cnt""".stripMargin,
    "q_bloom_audit" ->
      s"""WITH tok AS (SELECT doc_id, $toksSql AS t FROM documents),
        |bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS w FROM tok),
        |bench AS (SELECT DISTINCT w FROM bgs WHERE doc_id % 10 = 0),
        |corp AS (SELECT DISTINCT w FROM bgs),
        |bits AS (SELECT DISTINCT
        |    ('0x' || substr(md5(w || '#bl' || r.r), 1, 12))::BIGINT
        |      % $BloomBits AS pos
        |  FROM bench CROSS JOIN range(0, $BloomK) r(r)),
        |probe AS (SELECT c.w,
        |    ('0x' || substr(md5(c.w || '#bl' || r.r), 1, 12))::BIGINT
        |      % $BloomBits AS pos
        |  FROM corp c CROSS JOIN range(0, $BloomK) r(r)),
        |hit AS (SELECT w,
        |    (sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = $BloomK)
        |      AS bloom_hit
        |  FROM probe p LEFT JOIN bits b ON p.pos = b.pos GROUP BY w)
        |SELECT h.w AS term, (bn.w IS NOT NULL) AS exact_member,
        |  h.bloom_hit, (h.bloom_hit AND bn.w IS NULL) AS false_positive
        |FROM hit h LEFT JOIN bench bn ON h.w = bn.w""".stripMargin,
    "q_len_hist" ->
      s"""WITH d AS (SELECT source,
        |    len($toksSql)::BIGINT AS n FROM documents),
        |b AS (SELECT source,
        |  (CASE WHEN n <= 0 THEN 0 ELSE length(bin(n)) END)::BIGINT AS bin
        |  FROM d),
        |per AS (SELECT source, bin, count(*)::BIGINT AS n_docs
        |  FROM b GROUP BY source, bin),
        |pb AS (SELECT source, bin,
        |  (CASE WHEN bin = 0 THEN 0
        |    ELSE (1::BIGINT << (bin - 1)::INT) END)::BIGINT AS bin_lo,
        |  (CASE WHEN bin = 0 THEN 0
        |    ELSE (1::BIGINT << bin::INT) - 1 END)::BIGINT AS bin_hi,
        |  n_docs FROM per)
        |SELECT source, bin, bin_lo, bin_hi, n_docs FROM pb
        |UNION ALL
        |SELECT 'ALL' AS source, bin, bin_lo, bin_hi,
        |  sum(n_docs)::BIGINT AS n_docs
        |FROM pb GROUP BY bin, bin_lo, bin_hi""".stripMargin,
    "q_hll_sketch" ->
      s"""WITH occ AS (SELECT source,
        |    ('0x' || substr(md5(w), 1, 12))::BIGINT AS h
        |  FROM (SELECT source, unnest($toksSql) AS w FROM documents)),
        |rk AS (SELECT source, h % $HllM AS bucket,
        |    CASE WHEN h // 64 = 0 THEN $HllZeroRank
        |      ELSE length(bin((h // 64) & -(h // 64)))::BIGINT END AS rank
        |  FROM occ),
        |per AS (SELECT source, bucket, max(rank)::BIGINT AS max_rank
        |  FROM rk GROUP BY source, bucket)
        |SELECT source, bucket, max_rank FROM per
        |UNION ALL
        |SELECT 'ALL' AS source, bucket, max(max_rank)::BIGINT AS max_rank
        |FROM per GROUP BY bucket""".stripMargin)
}
