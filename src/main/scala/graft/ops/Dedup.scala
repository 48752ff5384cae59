package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication for large-scale training-data pipelines: exact,
 * n-gram Jaccard, MinHash+LSH, and SimHash (BASELINE.json north star).
 *
 * Scale design (100 TB):
 *  - exact dedup is one hash-shuffle on a 16-byte key;
 *  - all-pairs Jaccard is intentionally partition-scoped (within a grouping
 *    key such as `source`) — the O(n²) verify step is only ever run inside
 *    LSH/bucket candidates or bounded partitions;
 *  - MinHash signatures are one pass over (doc, shingle) rows; LSH banding
 *    turns global near-dup search into an equi-join on band keys — the join
 *    explodes only where true candidates exist;
 *  - hashes are pure integer arithmetic ((a·x+b) mod p on char-code shingle
 *    keys), portable to any SQL engine (and to the DuckDB oracle) with no
 *    engine-specific hash function.
 */
object Dedup {

  val P: Long = 2147483647L // 2^31-1

  /** Salt fan-out for scoped pair joins (see [[Spread.saltedJoin]]): bounds
    * per-task build memory at |scope|/SALT and lifts parallelism to
    * scopes × SALT. Sized so replication (×SALT of the smaller side) stays
    * cheap while a single giant scope still splits across many tasks. */
  val SALT = 8

  /** Deterministic (a, b) parameter pairs for the k hash family. */
  def hashParams(k: Int): Seq[(Int, Long, Long)] =
    (0 until k).map { i =>
      val a = (2654435761L * (i + 1)) % P
      val b = (40503L * (i + 7) * (i + 7)) % P
      (i, if (a % 2 == 0) a + 1 else a, b)
    }

  /** Distinct character k-shingles, long format (id, sh). */
  def charShingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), explode(array_distinct(expr(
      s"transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), i -> substr($textCol, i, $k))"
    ))).as("sh"))

  /** Integer key of a 3-char shingle from char codes (base-256 packing) —
    * exact, portable. Long literals force the multiply into Long BEFORE
    * it can overflow: ascii() yields full codepoints (≤ 0x10FFFF), and
    * 0x10000+·65536 no longer fits an Int (ANSI mode crashes, non-ANSI
    * silently corrupts keys). */
  def shingleKey(sh: Column): Column =
    ascii(substring(sh, 1, 1)) * lit(65536L) +
      ascii(substring(sh, 2, 1)) * lit(256L) + ascii(substring(sh, 3, 1))

  /** (a·x + b) mod P computed exactly in Long arithmetic for any
    * 0 ≤ x < 2^45 (4 packed codepoints ≤ 0x10FFFF reach ~2^44.2): the
    * naive a·x product reaches 2^75 and overflows Long — under ANSI mode
    * that kills the job on the first emoji/CJK document. Splitting x
    * into 22-bit limbs keeps every intermediate below 2^54:
    * a·x ≡ ((a·⌊x/2²²⌋ mod P)·2²² + a·(x mod 2²²)) (mod P).
    * Value-identical to the direct form wherever that form didn't
    * overflow, so every existing oracle hash is unchanged. */
  private def hashAbModP(a: Long, b: Long, x: Column): Column =
    ((lit(a) * shiftright(x, 22)) % P * lit(1L << 22)
      + lit(a) * x.bitwiseAND(lit((1L << 22) - 1)) + lit(b)) % P

  /** Exact dedup: among rows sharing md5(text), keep the smallest id.
    * One shuffle on the digest. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact n-gram Jaccard similarity for all pairs within a scope column —
    * the O(n²) baseline, to be applied only inside partitions/buckets.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * Each document is reduced to ONE row holding its sorted distinct shingle
    * keys; the scoped pair join then computes |a ∩ b| with a codegen'd
    * two-pointer merge. The alternative — an equi-join on shingle rows —
    * produces Σ_shingle freq² intermediate rows, which explodes on common
    * shingles ("the", " an") that appear in nearly every document. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        scopeCol: String, k: Int, threshold: Double,
                        salt: Int = SALT): DataFrame = {
    import graft.functions.ArrayMath
    // the base-256 packing is only injective for 3-codepoint shingles
    // (same constraint as shingleKeys); the codegen kernel replaces the
    // interpreted nested-transform form, value-identically
    require(k == 3,
      s"ngramJaccardPairs packs exactly 3 chars per shingle key; k=$k " +
        "would collide distinct shingles")
    val keys = shingleKeys3(textCol)
    // spread: a small single-file table arrives as ONE partition and would
    // serialize both the shingle extraction and all pair intersects;
    // shared: both pair sides read the one extracted shingle-set table
    val sets = Spread.shared(Spread.byKey(df, col(idCol))
      .select(col(scopeCol).as("__scope"), col(idCol).as("__id"),
        keys.as("__keys")))
    val a = sets.select(col("__scope"), col("__id").as("id_a"),
      col("__keys").as("__ka"), size(col("__keys")).as("__na"))
    val b = sets.select(col("__scope").as("__scope2"), col("__id").as("id_b"),
      col("__keys").as("__kb"), size(col("__keys")).as("__nb"))
    // scopes are few (skewed shuffle keys), docs/scope can be large — a
    // salted shuffle join keys on (scope, salt-of-id_a) so parallelism is
    // scopes × SALT and each task's hash build is |scope|/SALT left rows,
    // never a full-table broadcast (which dies past executor memory).
    // length filter: J(a,b) = |a∩b|/|a∪b| ≤ min(|a|,|b|)/max(|a|,|b|), so
    // size-mismatched pairs can never reach the threshold — prune them
    // BEFORE the O(|a|+|b|) intersect (values unchanged, provably)
    Spread.saltedJoin(a, b,
        col("__scope") === col("__scope2") && col("id_a") < col("id_b") &&
          col("__na") >= lit(threshold) * col("__nb") &&
          col("__nb") >= lit(threshold) * col("__na"),
        col("id_a"), salt)
      .withColumn("__i", ArrayMath.sortedIntersectCount(col("__ka"), col("__kb")))
      .withColumn("jaccard",
        col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Broder CONTAINMENT pairs within a scope — the asymmetric companion
    * to [[ngramJaccardPairs]]: C = |A∩B| / min(|A|,|B|), the fraction of
    * the smaller shingle set found inside the larger. Jaccard misses
    * quote/superset relations (a doc embedded in a 10× larger doc has
    * J ≤ 0.1 but C = 1); containment is the right score for "document B
    * swallows document A" dedup and boilerplate-wrapper detection.
    *
    * Same one-row-per-doc sorted-shingle layout and salted scoped join as
    * the Jaccard baseline, but NO size-ratio prune exists for containment
    * (any size pair can reach the threshold), so this is strictly the
    * scoped exact baseline — at corpus scale candidates must come from
    * the LSH band join first. The threshold test is integer
    * (tDen·|A∩B| ≥ tNum·min), bit-identical cross-engine.
    *
    * Output: (id_a, id_b, n_a, n_b, n_shared, containment, contained_id)
    * with id_a < id_b; contained_id names the smaller (= contained) set,
    * ties to id_a. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       scopeCol: String, k: Int,
                       tNum: Int, tDen: Int): DataFrame = {
    val sets = Spread.shared(Spread.byKey(df, col(idCol))
      .select(col(scopeCol).as("__scope"), col(idCol).as("__id"),
        shingleKeys(textCol, k).as("__keys")))
    val a = sets.select(col("__scope"), col("__id").as("id_a"),
      col("__keys").as("__ka"), size(col("__keys")).as("__na"))
    val b = sets.select(col("__scope").as("__scope2"), col("__id").as("id_b"),
      col("__keys").as("__kb"), size(col("__keys")).as("__nb"))
    containmentTail(Spread.saltedJoin(a, b,
      col("__scope") === col("__scope2") && col("id_a") < col("id_b"),
      col("id_a"), SALT), tNum, tDen)
  }

  /** Sorted distinct char-k shingle keys of a text column (3-byte packed
    * integers — the [[ngramJaccardPairs]] layout).
    *
    * The packing reads exactly the first 3 chars of each shingle and
    * assumes ascii() < 256, so it is only injective for k = 3 over
    * single-byte text (the layout every registered query and oracle
    * replays). Guarded rather than generalized: changing the packing
    * would silently change every downstream score/oracle. */
  private def shingleKeys(textCol: String, k: Int): Column = {
    require(k == 3,
      s"shingleKeys packs exactly 3 chars per shingle; k=$k would collide distinct shingles")
    shingleKeys3(textCol)
  }

  private def shingleKeys3(textCol: String): Column =
    // single-pass codegen kernel; value-identical to the SQL
    // array_sort(array_distinct(transform(transform(...substr...),
    // ascii-pack))) form (QualityKernelSpec proves it on the corpus +
    // CJK/emoji edges, including the short-doc `ascii('') = 0` padding).
    // Same-session sf1 A/B: jaccard_prefix -29%, containment_mark -15%
    // wall vs the interpreted nested-transform form.
    // Null text coalesces to '' so the row still participates with the
    // degenerate [0] key set — the bare kernel null-propagates, which
    // would silently DROP null-text rows from pair generation (the HOF
    // form kept them via greatest(null,1)=1; corpus-invisible, but the
    // op boundary shouldn't depend on upstream null hygiene). Every
    // shingle-family oracle mirrors this with coalesce(text, '') in its
    // pos CTE (r17) — substr(NULL, i, 3) never equi-joins in DuckDB, so
    // an uncoalesced oracle silently diverges the moment a null-text doc
    // enters the corpus; the fuzz corpus now carries null-text docs to
    // keep both sides honest.
    graft.functions.ShingleKeys3(coalesce(col(textCol), lit("")))

  /** Reference SQL formulation of [[shingleKeys3]], kept for the
    * equivalence spec. */
  private[graft] def shingleKeys3Hof(textCol: String): Column = expr(
    // the ascii() factors must be widened BEFORE the multiply: codepoints
    // reach 0x10FFFF, and 0x10000+ · 65536 overflows INT under ANSI mode
    // (fuzz corpus: emoji docs crashed every prefix-filter query); the
    // BIGINT product is the same value the scaladoc bound reasons about
    s"""array_sort(array_distinct(transform(
       |  transform(sequence(1, greatest(length($textCol) - 2, 1)),
       |            i -> substr($textCol, i, 3)),
       |  s -> CAST(ascii(substr(s,1,1)) AS BIGINT) * 65536
       |       + CAST(ascii(substr(s,2,1)) AS BIGINT) * 256
       |       + CAST(ascii(substr(s,3,1)) AS BIGINT))))""".stripMargin)

  /** Rarest-first total order over shingle keys as ONE packed bigint:
    * `min(df, 2^26−1)·2^37 + key`. Injective for every key
    * [[shingleKeys3]] can emit — ascii() yields Unicode codepoints
    * ≤ 0x10FFFF, so key ≤ 0x10FFFF·65793 < 2^37 and the low 37 bits
    * never carry into the df field (the old `df·2^24` pack collided
    * distinct (df, key) pairs for non-Latin-1 text, silently changing
    * sorted-merge intersect counts vs the raw-key referee). Clamping df
    * at 2^26−1 only affects the ORDER among shingles that ubiquitous
    * (they sort by key instead of df) — the prefix-filter lemma holds
    * for ANY consistent total order, so exactness is unaffected; max
    * tok = (2^26−1)·2^37 + 2^37−1 < 2^63 stays a valid signed long. */
  private def packDfKey(df: Column, key: Column): Column =
    least(df, lit((1L << 26) - 1)) * lit(1L << 37) + key

  /** Shared containment scoring tail over pair rows carrying
    * (__ka, __kb, __na, __nb). */
  private def containmentTail(pairs: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    import graft.functions.ArrayMath
    pairs
      .withColumn("__i", ArrayMath.sortedIntersectCount(col("__ka"), col("__kb")))
      .filter(col("__i") * tDen >= lit(tNum) * least(col("__na"), col("__nb")))
      .select(col("id_a"), col("id_b"),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        col("__i").as("n_shared"),
        round(col("__i").cast("double") /
          least(col("__na"), col("__nb")).cast("double"), 9).as("containment"),
        when(col("__na") <= col("__nb"), col("id_a")).otherwise(col("id_b"))
          .as("contained_id"))
  }

  /**
   * The SCALE PATH for containment dedup: [[winnowPairs]] fingerprint
   * candidates (equi-join on rare winnow hashes — linear in corpus
   * fingerprints, the MOSS candidate step) followed by the exact
   * containment check on ONLY those candidate pairs. Bounded pair work at
   * any corpus size in exchange for recall limited to pairs sharing ≥
   * `minShared` rare fingerprints — the same candidates-then-exact
   * contract as minhashLsh vs ngramJaccard. Output schema matches
   * [[containmentPairs]].
   */
  def containmentCandidates(df: DataFrame, idCol: String, textCol: String,
                            k: Int, tNum: Int, tDen: Int,
                            n: Int, w: Int, minShared: Int,
                            maxDf: Int): DataFrame = {
    val cand = winnowPairs(df, idCol, textCol, n, w, minShared, maxDf)
      .select("id_a", "id_b")
    val sets = Spread.shared(Spread.byKey(df, col(idCol))
      .select(col(idCol).as("__id"), shingleKeys(textCol, k).as("__keys")))
    // explicit width on the pair stream before the CPU-heavy sorted-merge
    // verify — same rationale as [[containmentPrefixPairs]]'s tail
    containmentTail(Spread.byKey(cand, col("id_a"))
      .join(sets.select(col("__id").as("id_a"), col("__keys").as("__ka"),
        size(col("__keys")).as("__na")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__keys").as("__kb"),
        size(col("__keys")).as("__nb")), "id_b"), tNum, tDen)
  }

  /**
   * EXACT containment pairs via prefix filtering — the overlap-join
   * extension of the AllPairs scheme ([[jaccardPrefixPairs]]; prefix
   * lemma from Chaudhuri/Ganti/Kaushik SSJoin, ICDE'06). Returns the
   * SAME result set as [[containmentPairs]] (same scope, k, threshold)
   * without the all-pairs scoped cross.
   *
   * For a pair with |A| ≤ |B|, C = |A∩B|/|A| ≥ t forces
   * |A∩B| ≥ ⌈t·|A|⌉, so by pigeonhole B must contain one of the first
   * p = |A| − ⌈t·|A|⌉ + 1 shingles of A in the global rarest-first
   * order — the candidate join is prefix(smaller) ⋈ ALL shingles of the
   * larger on (scope, shingle). Containment has no size-ratio prune
   * (any size pair can pass), which is exactly why the larger side must
   * expose its full set; the prefix side still only exposes its rarest
   * ~(1−t) fraction, so ubiquitous shingles pair rare-prefix docs with
   * their df_all, not corpus². Rarest-first order via the same packed
   * [[packDfKey]] bigints (no vocab-wide window); prefix length in
   * rational arithmetic (t = tNum/tDen) so the bound never rounds
   * unsafely. Verify = sorted-merge intersect on candidates only —
   * bit-identical scoring to the quadratic referee via
   * [[containmentTail]].
   */
  def containmentPrefixPairs(df: DataFrame, idCol: String, textCol: String,
                             scopeCol: String, k: Int,
                             tNum: Int, tDen: Int): DataFrame = {
    // NOTE (r17): caching the per-doc key arrays here (one Spread.shared
    // of (scope, id, keys) consumed by both the freq branch and the
    // assembly branch) was measured SLOWER at sf0.1 — the cache
    // materialization + double cache indirection cost more than the
    // saved second ShingleKeys3 pass (mark 4.2 -> 6.6 s). Deliberately
    // kept as two explodes of the scan.
    val sh = Spread.byKey(df, col(idCol))
      .select(col(scopeCol).as("__scope"), col(idCol).as("__id"),
        explode(shingleKeys(textCol, k)).as("__key"))
    val freq = sh.groupBy("__key").agg(count(lit(1)).as("__df"))
      .select(col("__key"), packDfKey(col("__df"), col("__key")).as("__tok"))
    val sets = Spread.shared(
      sh.join(freq, "__key")
        .groupBy("__scope", "__id")
        .agg(array_sort(collect_list(col("__tok"))).as("__toks"))
        .withColumn("__n", size(col("__toks"))))
    // p = n − ⌈t·n⌉ + 1, exact integer ceiling
    val p = (col("__n") - floor((col("__n") * tNum + (tDen - 1)) / lit(tDen))
      + 1).cast("int")
    val prefixSmall = sets.select(col("__scope"), col("__id").as("__ids"),
      col("__n").as("__ns"), explode(slice(col("__toks"), lit(1), p)).as("__tok"))
    val fullLarge = sets.select(col("__scope").as("__scope2"),
      col("__id").as("__idl"), col("__n").as("__nl"),
      explode(col("__toks")).as("__tok2"))
    // smaller-or-tied side probes with its prefix; ties generate both
    // orders and collapse under least/greatest + distinct. __scope is
    // dropped before the dedup: ids are corpus-unique, so (id_a, id_b)
    // determines the pair (and its scope) — narrower distinct state.
    val cands = prefixSmall.join(fullLarge,
        col("__scope") === col("__scope2") && col("__tok") === col("__tok2") &&
          (col("__ns") < col("__nl") ||
            (col("__ns") === col("__nl") && col("__ids") =!= col("__idl"))))
      .select(least(col("__ids"), col("__idl")).as("id_a"),
        greatest(col("__ids"), col("__idl")).as("id_b"))
      .distinct()
    // verify joins keyed on the doc id ALONE (scope equality was redundant:
    // both pair members share the candidate join's scope by construction,
    // and one id maps to one sets row). id-only keys let the pair stream
    // co-partition with `sets` (partitioned by __id from Spread.byKey) at
    // cluster scale, and the explicit width pins the CPU-heavy
    // sorted-merge verify at defaultParallelism instead of the AQE
    // byte-coalesced width (measured: the fused verify stage ran 5 tasks
    // at sf0.1 — 0.55 s of the query on a 32-core driver).
    // NOTE (r18): fusing the distinct + both verify joins into ONE
    // unpivot join + (id_a, id_b) aggregate (each pair as two probe rows,
    // max(when(side,...)) re-assembling the arrays) was measured 2.2x
    // SLOWER on the same subset (mark/topk/prefix 7.36 -> 15.89 s): the
    // pair aggregate ships candidate x token-ARRAY rows through the final
    // exchange and max(array) demotes it to SortAggregate, while the
    // two-join form broadcasts (locally) or co-partitions (at scale) the
    // sets relation and shuffles only id triples. Deliberately kept as
    // distinct + two id-keyed joins.
    val wide = Spread.byKey(cands, col("id_a"))
    val a = sets.select(col("__id").as("__ida"),
      col("__toks").as("__ka"), col("__n").as("__na"))
    val b = sets.select(col("__id").as("__idb"), col("__toks").as("__kb"),
      col("__n").as("__nb"))
    containmentTail(wide
      .join(a, col("id_a") === col("__ida"))
      .join(b, col("id_b") === col("__idb")), tNum, tDen)
  }

  /**
   * LINEAR-OUTPUT containment dedup: one row per CONTAINED doc with its
   * best (max-overlap) witness, instead of the all-pairs list of
   * [[containmentPrefixPairs]] — which is inherently quadratic in
   * duplicate-cluster size (k-char shingle sets saturate on template
   * corpora; measured 3 175 → 32.4 M pair rows from sf0.01 to a 100×
   * scratch corpus). The dedup DECISION ("is this doc ≥t-contained in
   * some other doc, and in which") is linear, so this is the form a
   * corpus-scale pipeline actually materializes.
   *
   * For a fixed contained doc the containment denominator min(|A|,|B|)
   * is its OWN set size, so argmax over the INTEGER shared count is
   * argmax over containment — no floating-point compares; witness
   * tie-break = smallest id via max(struct(i, -witness)). The aggregate
   * sits directly on the pair stream and is partial-aggregable (plan
   * shows partial_max/partial_min before the exchange): the post-verify
   * shuffle carries one partial row per (partition, contained doc).
   *
   * Output: (contained_id, n_shingles, n_shared, best_containment,
   * witness_id).
   */
  def containmentMark(df: DataFrame, idCol: String, textCol: String,
                      scopeCol: String, k: Int,
                      tNum: Int, tDen: Int): DataFrame = {
    val pairs = containmentPrefixPairs(df, idCol, textCol, scopeCol, k,
      tNum, tDen)
    pairs
      .withColumn("__w", when(col("contained_id") === col("id_a"),
        col("id_b")).otherwise(col("id_a")))
      .groupBy(col("contained_id"))
      .agg(
        max(struct(col("n_shared").as("i"), (-col("__w")).as("nw"))).as("__m"),
        min(least(col("n_a"), col("n_b"))).as("n_shingles"))
      .select(col("contained_id"), col("n_shingles"),
        col("__m.i").as("n_shared"),
        round(col("__m.i").cast("double")
          / col("n_shingles").cast("double"), 9).as("best_containment"),
        (-col("__m.nw")).as("witness_id"))
  }

  /**
   * BOUNDED-OUTPUT containment with provenance: the top `topK` witnesses
   * per contained doc, ranked by shared-shingle count (ties → smallest
   * witness id, so the ordering is total and cross-engine deterministic).
   * Sits between [[containmentMark]] (1 row/doc, loses alternates) and
   * [[containmentPrefixPairs]] (full pair list, quadratic in
   * duplicate-cluster size — measured 3 175 → 32.4 M rows on a 100×
   * corpus): output is ≤ topK rows per contained doc — linear in corpus —
   * while keeping enough witnesses for cluster-repair / audit decisions.
   *
   * The rank is a window PARTITIONED by contained_id over the verified
   * prefix-filter pair stream: one shuffle keyed on contained_id, partition
   * width bounded by the doc's true duplicate-cluster degree (the work the
   * pair stream already carries), never the corpus.
   *
   * Output: (contained_id, witness_id, n_shingles, n_shared, containment,
   * rank), rank 1 = best witness (row-for-row the [[containmentMark]]
   * winner).
   */
  def containmentTopK(df: DataFrame, idCol: String, textCol: String,
                      scopeCol: String, k: Int, tNum: Int, tDen: Int,
                      topK: Int): DataFrame = {
    val pairs = containmentPrefixPairs(df, idCol, textCol, scopeCol, k,
      tNum, tDen)
    val w = Window.partitionBy(col("contained_id"))
      .orderBy(col("n_shared").desc, col("__w").asc)
    pairs
      .withColumn("__w", when(col("contained_id") === col("id_a"),
        col("id_b")).otherwise(col("id_a")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("contained_id"), col("__w").as("witness_id"),
        least(col("n_a"), col("n_b")).as("n_shingles"),
        col("n_shared"),
        round(col("n_shared").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"), 9).as("containment"),
        col("rank"))
  }

  /**
   * The SCALE PATH for edit-distance prefix dedup (the
   * `dedup_fuzzy_prefix` quadratic scoped cross): PassJoin segment
   * blocking (Li/Deng/Feng, "PASS-JOIN: A Partition-based Method for
   * Similarity Joins", VLDB'11) + banded-Levenshtein verify on
   * candidates only. EXACT — returns the identical result set to the
   * quadratic baseline at every corpus (pigeonhole, not heuristic
   * recall; ScalePathSpec proves equality).
   *
   * Candidate generation, τ = maxDist, k = τ+1 segments:
   *  - every prefix of length ≥ k is evenly partitioned into its k
   *    segments (first `l mod k` segments one char longer) and INDEXES
   *    each as (scope, l, segIdx, segText);
   *  - every prefix of length l ≥ k PROBES, for each possible
   *    shorter-side length L ∈ [max(k, l−τ), l] and segment i, its own
   *    substrings of the segment's length at starts within the
   *    MULTI-MATCH-AWARE window
   *    [pᵢ + max(−(i−1), Δ−(k−i)), pᵢ + min(i−1, Δ+(k−i))] (Δ = l−L,
   *    paper's Lemma: pick i = the first untouched segment, then ≤ i−1
   *    edits precede it and ≤ k−i follow, bounding the alignment shift
   *    from both ends — single positions at i = 1 and i = k). If
   *    lev ≤ τ, one of the shorter side's k segments survives untouched
   *    (k > τ), so the longer side contains it inside the window — no
   *    true pair is missed;
   *  - prefixes of length ≤ τ are reachable from ANY string of length
   *    ≤ 2τ (delete everything), so the degenerate class l ≤ 2τ joins a
   *    per-scope length-band block (shorter side ≤ τ). This block is
   *    quadratic WITHIN the class; a broadcast assert_true guard fails
   *    the job if any scope holds > 100 000 such near-empty prefixes
   *    rather than silently running |class|² work (see inline note).
   *
   * Probe volume is ≤ (τ+1)²·(2τ+1) keys per doc — a constant, so
   * candidate generation is LINEAR in corpus size; candidate pairs are
   * output-sensitive (a segment match at aligned positions is strong
   * evidence). The DP (thresholded `levenshtein(_, _, maxDist)`, early
   * abort) runs on distinct candidates only, after the
   * |len(a)−len(b)| ≤ maxDist band.
   */
  def fuzzyPrefixPairs(df: DataFrame, idCol: String, textCol: String,
                       scopeCol: String, nTokens: Int, maxDist: Int): DataFrame = {
    val tau = maxDist
    val k = tau + 1
    val toks = graft.ops.TextAnalysis.tokens(col(textCol))
    val t = Spread.shared(Spread.byKey(df, col(idCol)).select(
      col(scopeCol).as("__scope"), col(idCol).as("__id"),
      concat_ws(" ", slice(toks, 1, nTokens)).as("__pfx"))
      .withColumn("__l", length(col("__pfx"))))
    // segment i of a length-L string: start p_i, length s_i (1-based,
    // first L mod k segments are one longer) — shared by index and probe
    def segLen(lCol: String, i: String) = s"(($lCol) div $k + IF(($i) <= ($lCol) % $k, 1, 0))"
    def segStart(lCol: String, i: String) = s"((($i) - 1) * (($lCol) div $k) + least(($i) - 1, ($lCol) % $k) + 1)"
    // segments/probes join on a 64-bit hash of the substring, not the
    // string itself: narrower shuffle keys, and a collision only adds a
    // candidate the DP verify discards — exactness is unaffected
    val index = t.filter(col("__l") >= k).select(
      col("__scope").as("__sx"), col("__id").as("__idx"),
      col("__l").as("__lx"),
      explode(expr(s"""transform(sequence(1, $k), i ->
        struct(i AS si,
               xxhash64(substring(__pfx, ${segStart("__l", "i")}, ${segLen("__l", "i")})) AS seg))"""))
        .as("__kx"))
    val probe = t.filter(col("__l") >= k).select(
      col("__scope").as("__sp"), col("__id").as("__idp"),
      col("__l").as("__lp"),
      explode(expr(s"""flatten(transform(sequence(greatest($k, __l - $tau), __l), L ->
        flatten(transform(sequence(1, $k), i ->
          CASE WHEN least(__l - ${segLen("L", "i")} + 1,
                          ${segStart("L", "i")} + least(i - 1, (__l - L) + ($k - i)))
                    >= greatest(1,
                          ${segStart("L", "i")} + greatest(-(i - 1), (__l - L) - ($k - i)))
          THEN transform(
            sequence(
              greatest(1,
                ${segStart("L", "i")} + greatest(-(i - 1), (__l - L) - ($k - i))),
              least(__l - ${segLen("L", "i")} + 1,
                ${segStart("L", "i")} + least(i - 1, (__l - L) + ($k - i)))),
            q -> struct(L AS tl, i AS si,
                        xxhash64(substring(__pfx, q, ${segLen("L", "i")})) AS seg))
          ELSE CAST(array() AS ARRAY<STRUCT<tl INT, si INT, seg BIGINT>>) END))))"""))
        .as("__kp"))
    val segCands = probe.join(index,
        col("__sp") === col("__sx") &&
          col("__kp.tl") === col("__lx") &&
          col("__kp.si") === col("__kx.si") &&
          col("__kp.seg") === col("__kx.seg") &&
          (col("__lx") < col("__lp") ||
            (col("__lx") === col("__lp") && col("__idx") =!= col("__idp"))))
      .select(col("__sp").as("__s"),
        least(col("__idx"), col("__idp")).as("id_a"),
        greatest(col("__idx"), col("__idp")).as("id_b"))
    // degenerate short class: shorter side <= tau pairs with anything of
    // length <= 2*tau in scope. This is the ONE intra-class quadratic left
    // in the method — for template-separator corpora the class is tiny,
    // but an adversarial corpus of millions of near-empty texts would blow
    // it up, so the per-scope class size is guarded: a 1-row aggregate is
    // broadcast onto the short-class join and the job FAILS LOUDLY (via
    // raise_error at broadcast build, i.e. BEFORE the join stage launches)
    // instead of silently running |class|² work. The guard value is a
    // typed 0 that the downstream FILTER references, so column pruning
    // cannot optimize the check away (a bare assert_true column dropped
    // right after the join gets pruned — measured: the quadratic join ran).
    // Callers with legitimately short corpora should filter near-empty
    // texts upstream or raise nTokens.
    val maxShortClass = 100000L
    val guard = t.filter(col("__l") <= 2 * tau)
      .groupBy("__scope").agg(count(lit(1)).as("__c"))
      .agg(coalesce(max(col("__c")), lit(0L)).as("__mc"))
      .select(when(col("__mc") <= maxShortClass, lit(0L))
        .otherwise(raise_error(concat(lit("fuzzyPrefixPairs: "), col("__mc"),
          lit(s" docs with prefix length <= ${2 * tau} in one scope exceeds" +
            s" the $maxShortClass degenerate-class bound — the short-class" +
            " join is quadratic within the class; filter near-empty texts" +
            " or raise nTokens"))).cast("long")).as("__g"))
    val shortA = t.filter(col("__l") <= tau).select(
      col("__scope").as("__sa"), col("__id").as("__ida"))
    val shortB = t.filter(col("__l") <= 2 * tau).select(
      col("__scope").as("__sb"), col("__id").as("__idb"))
    val shortCands = shortA.join(shortB,
        col("__sa") === col("__sb") && col("__ida") =!= col("__idb"))
      .crossJoin(broadcast(guard))
      .filter(col("__g") === 0L).drop("__g")
      .select(col("__sa").as("__s"),
        least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"))
    val cands = segCands.unionByName(shortCands)
      .select("id_a", "id_b").distinct()
    // verify: length band + thresholded early-abort DP on candidates only.
    // Joins keyed on the doc id alone (ids are corpus-unique, scope
    // equality was redundant) and the pair stream explicitly widened —
    // the banded-levenshtein stage otherwise runs at the AQE
    // byte-coalesced width (measured: 1 task, 0.48 s pure CPU at sf0.1)
    // — the containmentPrefixPairs r18 pattern.
    val wide = Spread.byKey(cands, col("id_a"))
    val pa = t.select(col("__id").as("__ida"), col("__pfx").as("pfx_a"))
    val pb = t.select(col("__id").as("__idb"), col("__pfx").as("pfx_b"))
    wide
      .join(pa, wide("id_a") === pa("__ida"))
      .join(pb, wide("id_b") === pb("__idb"))
      .filter(abs(length(col("pfx_a")) - length(col("pfx_b"))) <= maxDist)
      .withColumn("edit_dist", levenshtein(col("pfx_a"), col("pfx_b"), maxDist))
      .filter(col("edit_dist") =!= -1)
      .select(wide("id_a"), wide("id_b"), col("edit_dist"))
  }

  /**
   * EXACT Jaccard pairs via prefix filtering — the AllPairs candidate
   * scheme (Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity Search",
   * WWW'07; prefix-filter lemma from Chaudhuri/Ganti/Kaushik SSJoin,
   * ICDE'06). Returns the SAME result set as [[ngramJaccardPairs]] (same
   * scope, k, threshold) WITHOUT all-pairs work — the exact companion to
   * the approximate MinHash-LSH scale path.
   *
   * Shingles are totally ordered by ascending global document frequency
   * (rarest first), realized as packed [[packDfKey]] bigints so the
   * order needs NO vocabulary-wide window — the pack IS the sort key. A
   * document whose sorted set has n shingles exposes only its first
   * p = n − ⌈t·n⌉ + 1 (its globally rarest shingles) to the candidate
   * equi-join. Any pair with J ≥ t shares ≥ ⌈t·max(|a|,|b|)⌉ shingles,
   * which forces a common shingle inside both prefixes (prefix-filter
   * lemma), so no true pair is lost; ubiquitous shingles ("the", " an")
   * never reach a prefix and so never generate candidates. Candidate
   * volume is Σ_{rare tok} df(tok)² instead of Σ_scope |scope|² — linear
   * at corpus scale for the heavy-tailed shingle distributions real text
   * has.
   *
   * Prefix length and the size-ratio prune use rational arithmetic
   * (t = tNum/tDen): double `ceil(0.8·n)` rounds UP for n a multiple of 5
   * (0.8 is not a binary double), which would shorten the prefix below
   * the safe bound and silently drop true pairs. The final threshold test
   * is the same double compare as the baseline, so the two paths agree
   * bit-for-bit.
   */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
                         scopeCol: String, k: Int,
                         tNum: Int, tDen: Int): DataFrame = {
    import graft.functions.ArrayMath
    val threshold = tNum.toDouble / tDen
    // (scope, id, shingle-key) long rows — one explode of the per-doc
    // distinct sorted key array (two passes beat caching the arrays —
    // see the note in containmentPrefixPairs)
    val sh = Spread.byKey(df, col(idCol))
      .select(col(scopeCol).as("__scope"), col(idCol).as("__id"),
        explode(shingleKeys(textCol, k)).as("__key"))
    // global df per shingle ((id, key) rows are distinct, so count = doc
    // frequency); the packed bigint carries the rarest-first total order
    val freq = sh.groupBy("__key").agg(count(lit(1)).as("__df"))
      .select(col("__key"), packDfKey(col("__df"), col("__key")).as("__tok"))
    // one row per doc: frequency-ordered token array (vocab-sized shuffle
    // join on the shingle key, then one per-doc aggregation)
    val sets = Spread.shared(
      sh.join(freq, "__key")
        .groupBy("__scope", "__id")
        .agg(array_sort(collect_list(col("__tok"))).as("__toks"))
        .withColumn("__n", size(col("__toks"))))
    // p = n − ⌈t·n⌉ + 1, exact integer ceiling (values < 2^50 ⇒ the double
    // floor is exact)
    val p = (col("__n") - floor((col("__n") * tNum + (tDen - 1)) / lit(tDen))
      + 1).cast("int")
    val prefix = sets.select(col("__scope"), col("__id"), col("__n"),
      explode(slice(col("__toks"), lit(1), p)).as("__tok"))
    val pa = prefix.select(col("__scope"), col("__id").as("id_a"),
      col("__n").as("__na"), col("__tok"))
    val pb = prefix.select(col("__scope").as("__scope2"),
      col("__id").as("id_b"), col("__n").as("__nb"), col("__tok").as("__tok2"))
    // candidate generation: equi-join on (scope, prefix token); the
    // rational size prune (J ≤ min/max) keeps a superset of the double
    // prune, so the verify step alone decides membership
    val cands = pa.join(pb,
        col("__scope") === col("__scope2") && col("__tok") === col("__tok2") &&
          col("id_a") < col("id_b") &&
          col("__na") * tDen >= col("__nb") * tNum &&
          col("__nb") * tDen >= col("__na") * tNum)
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exact verification on candidates only — O(|a|+|b|) sorted merge per
    // candidate pair (packed tokens are bijective with keys, so intersect
    // counts are unchanged). Joins keyed on the doc id alone and the pair
    // stream explicitly widened — same rationale as
    // [[containmentPrefixPairs]]'s verify tail.
    val a = sets.select(col("__id").as("__ida"),
      col("__toks").as("__ka"), col("__n").as("__va"))
    val b = sets.select(col("__id").as("__idb"), col("__toks").as("__kb"),
      col("__n").as("__vb"))
    Spread.byKey(cands, col("id_a"))
      .join(a, col("id_a") === col("__ida"))
      .join(b, col("id_b") === col("__idb"))
      .withColumn("__i", ArrayMath.sortedIntersectCount(col("__ka"), col("__kb")))
      .withColumn("jaccard", col("__i").cast("double") /
        (col("__va") + col("__vb") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT repeated-substring spans (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": remove text spans
    * repeated verbatim anywhere in the corpus). Window-hash formulation
    * of the suffix-array algorithm: a token span of length >= k repeats
    * verbatim iff every length-k window inside it repeats, so the union
    * of repeated k-windows, interval-merged per doc, IS the exact
    * repeated-span set at k-token boundary resolution — no suffix array
    * needed, and every stage is a linear shuffle.
    *
    * Scale shape: (corpus token count) window rows; occurrence counts are
    * one map-side-combinable groupBy on the window hash; the count join is
    * a key-equi shuffle; the interval merge windows per doc (bounded by
    * doc length). At 100 TB this is the standard substitute for the
    * monolithic suffix array — same output, corpus-partitionable.
    *
    * Output: (doc_id, span_start, span_end, n_tokens) per maximal
    * repeated span, token positions 0-based inclusive. */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    require(k >= 2, "window length must be >= 2 tokens")
    val toks = graft.ops.TextAnalysis.tokens(col(textCol))
    val base = Spread.byKey(df, col(idCol))
      .select(col(idCol).cast("long").as("__id"), toks.as("__tk"))
    val wins = base.select(col("__id"),
        posexplode(expr(s"""CASE WHEN size(__tk) >= $k THEN
          transform(sequence(1, size(__tk) - ${k - 1}),
                    i -> concat_ws(' ', slice(__tk, i, $k)))
          ELSE array('') END""")).as(Seq("__pos", "__w")))
      .filter(col("__w") =!= "")
      .select(col("__id"), col("__pos"), md5(col("__w")).as("__h"))
    val repeated = wins.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__h")
    val rep = wins.join(repeated, "__h")
    // interval merge: window starts pos, prev overlap/touch iff
    // pos <= prev + k, so a gap > k opens a new island
    val w = Window.partitionBy("__id").orderBy("__pos")
    rep.withColumn("__prev", lag("__pos", 1).over(w))
      .withColumn("__new",
        (col("__prev").isNull || col("__pos") - col("__prev") > k).cast("int"))
      .withColumn("__isl", sum("__new").over(w))
      .groupBy(col("__id"), col("__isl"))
      .agg(min("__pos").as("__s"), max("__pos").as("__e"))
      .select(col("__id").as("doc_id"),
        col("__s").cast("long").as("span_start"),
        (col("__e") + (k - 1)).cast("long").as("span_end"),
        (col("__e") + k - col("__s")).cast("long").as("n_tokens"))
  }

  /** Strict exact-substring CLEANING: drop every token covered by a
    * repeated span ([[substringSpans]]) and reassemble the remaining
    * tokens in order — the filtering variant of Lee et al. dedup (remove
    * all occurrences; deterministic, no global keep-one election). Output:
    * (doc_id, n_tokens_orig, n_tokens_kept, clean_text). Docs with no
    * repeated span pass through verbatim. */
  def substringClean(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val spans = substringSpans(df, idCol, textCol, k)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = graft.ops.TextAnalysis.tokens(col(textCol))
    Spread.byKey(df, col(idCol))
      .select(col(idCol).cast("long").as("doc_id"), toks.as("__tk"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__tk")).cast("long").as("n_tokens_orig"),
        expr("""filter(transform(__tk, (t, i) -> CASE WHEN __spans IS NULL
            OR NOT exists(__spans,
              sp -> i >= sp.span_start AND i <= sp.span_end)
          THEN t END), t -> t IS NOT NULL)""").as("__kept"))
      .select(col("doc_id"), col("n_tokens_orig"),
        size(col("__kept")).cast("long").as("n_tokens_kept"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** MinHash signature rows (id, i, minhash) for a k-function family.
    * Computed as k parallel `min` aggregates over the shingle rows — partial
    * aggregation collapses each map partition to one row per doc BEFORE the
    * shuffle (vs exploding k rows per shingle, which shuffles k× the data). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleK: Int = 3): DataFrame = {
    val wide = wideSignatures(df, idCol, textCol, numHashes, shingleK)
    val stack = (0 until numHashes).map(i => s"$i, mh$i").mkString(", ")
    wide.selectExpr(idCol, s"stack($numHashes, $stack) as (i, minhash)")
  }

  /** Wide MinHash signatures (id, mh0..mh{k-1}): ONE aggregation over the
    * spread shingle rows — the shared core of [[minhashSignatures]] (long
    * format) and [[minhashLshPairs]] (bands + estimates).
    *
    * Precondition: `idCol` is unique in `df` (corpus-unique doc ids). The
    * kernel emits one signature per ROW, where the SQL form's groupBy
    * would merge duplicate-id rows into one signature over their shingle
    * union, so a duplicate id fails the job loudly instead of silently
    * changing the row set. The check is a per-id row count over the
    * id-spread partitions: no extra exchange, no extra job. */
  def wideSignatures(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int, shingleK: Int = 3): DataFrame = {
    // one-pass codegen kernel (r18, the simhash pattern): the shingle
    // explode + numHashes min-aggregates + groupBy exchange became a pure
    // projection. k=3 is the only registered width (the kernel packs
    // exactly 3 codepoints); other widths keep the SQL form.
    // Bit-equality proven in MinhashSigsSpec incl. null/empty/short/CJK.
    if (shingleK != 3)
      return wideSignaturesSql(df, idCol, textCol, numHashes, shingleK)
    Spread.byKey(df, col(idCol))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .select(col(idCol),
        when(col("__n") === 1,
          graft.functions.MinhashSigs.sigs(col(textCol), numHashes))
          .otherwise(raise_error(concat(lit(s"wideSignatures: $idCol "),
            col(idCol).cast("string"),
            lit(" is not unique; ids must be corpus-unique")))).as("__mhs"))
      .select(col(idCol) +: (0 until numHashes).map(i =>
        element_at(col("__mhs"), i + 1).as(s"mh$i")): _*)
  }

  /** Reference SQL formulation of [[wideSignatures]] (equivalence spec +
    * non-default shingle widths). */
  private[graft] def wideSignaturesSql(df: DataFrame, idCol: String, textCol: String,
                                       numHashes: Int, shingleK: Int = 3): DataFrame = {
    val sh = charShingles(Spread.byKey(df, col(idCol)), idCol, textCol, shingleK)
      .withColumn("x", shingleKey(col("sh")).cast("long"))
    val aggs = hashParams(numHashes).map { case (i, a, b) =>
      min(hashAbModP(a, b, col("x"))).as(s"mh$i")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate pairs from shared LSH buckets + MinHash-agreement similarity
    * estimate (fraction of equal signature rows).
    *
    * Stays in WIDE signature form end-to-end: one aggregation produces
    * (id, mh0..mhk); band keys are string-concats of column slices, and the
    * per-pair estimate is k inline column comparisons against two broadcast
    * copies of the signature table. The long-format alternative re-shuffles
    * the signatures twice (band re-agg + per-(pair, i) join). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int, bands: Int, estThreshold: Double): DataFrame = {
    val rows = numHashes / bands
    // shared: bands + both estimate sides read the one aggregated signature
    // table instead of re-running the shingle explode + k min-aggs 4×
    val wide = Spread.shared(wideSignatures(df, idCol, textCol, numHashes))
    // one row per (doc, band); key = comma-joined band slice of the signature
    val bandStructs = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(",", (bnd * rows until (bnd + 1) * rows).map(i => col(s"mh$i")): _*)
          .as("key"))
    }
    val bandDf = wide.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bandDf.select(col(idCol).as("id_a"), col("band"), col("key"))
      .join(bandDf.select(col(idCol).as("id_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val wa = wide.select(col(idCol).as("id_a") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"a$i")): _*)
    val wb = wide.select(col(idCol).as("id_b") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"b$i")): _*)
    val eqSum = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    // id_a / id_b are high-cardinality: plain shuffle hash joins distribute
    // evenly, and the signature build sides are per-partition slices — no
    // full-signature-table broadcast (which dies past executor memory).
    cand.join(wa.hint("shuffle_hash"), "id_a").join(wb.hint("shuffle_hash"), "id_b")
      .withColumn("est_jaccard", eqSum.cast("double") / numHashes)
      .filter(col("est_jaccard") >= estThreshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Incremental MinHash-LSH — the production shape for a growing corpus:
    * only pairs TOUCHING the new batch are generated. The band join's left
    * side is restricted to new-batch bands, so candidate work is
    * |new bands| × bucket-mates — the existing index is never paired
    * against itself (re-running full LSH over 100 TB per ingest is the
    * thing this avoids). Output pairs are normalized (id_a < id_b) and
    * estimated exactly like [[minhashLshPairs]] (k signature-agreement
    * columns over shuffle hash joins). */
  def minhashLshIncremental(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int, bands: Int, estThreshold: Double,
                            newPred: Column): DataFrame = {
    val rows = numHashes / bands
    val wide = Spread.shared(wideSignatures(df, idCol, textCol, numHashes)
      .join(df.select(col(idCol), newPred.as("__new")), idCol))
    val bandStructs = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(",", (bnd * rows until (bnd + 1) * rows).map(i => col(s"mh$i")): _*)
          .as("key"))
    }
    val bandDf = Spread.shared(wide
      .select(col(idCol), col("__new"), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("__new"), col("bk.band").as("band"),
        col("bk.key").as("key")))
    val newB = bandDf.filter(col("__new"))
      .select(col(idCol).as("__na"), col("band"), col("key"))
    val cand = newB
      .join(bandDf.select(col(idCol).as("__b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("__na") =!= col("__b"))
      .select(least(col("__na"), col("__b")).as("id_a"),
        greatest(col("__na"), col("__b")).as("id_b"))
      .distinct()
    val wa = wide.select(col(idCol).as("id_a") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"a$i")): _*)
    val wb = wide.select(col(idCol).as("id_b") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"b$i")): _*)
    val eqSum = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(wa.hint("shuffle_hash"), "id_a").join(wb.hint("shuffle_hash"), "id_b")
      .withColumn("est_jaccard", eqSum.cast("double") / numHashes)
      .filter(col("est_jaccard") >= estThreshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Portable SimHash over whitespace tokens: bit j of the signature is the
    * sign of Σ_tokens (2·((a_j·x+b_j mod p) & 1) − 1), with x the base-256
    * packing of the token's first 4 chars. numBits ≤ 32. */
  def simhash(df: DataFrame, idCol: String, textCol: String, numBits: Int): DataFrame =
    // one-pass codegen kernel (r18): the tokenize → explode → numBits
    // hash-sums → groupBy pipeline became a pure projection — no
    // corpus-token explode, no exchange (graph family: ~12 registered
    // queries build signatures cold per query on the bench's cold-cost
    // basis). Bit-equality vs [[simhashSql]] proven in SimhashSigSpec;
    // the isNotNull filter reproduces "no tokens → no signature row".
    Spread.byKey(df, col(idCol)).select(col(idCol),
      graft.functions.Simhash.simhashSig(col(textCol), numBits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Reference SQL formulation of [[simhash]], kept for the equivalence
    * spec (the shingleKeys3Hof pattern). */
  private[graft] def simhashSql(df: DataFrame, idCol: String, textCol: String,
                                numBits: Int): DataFrame = {
    val toks = Spread.byKey(df, col(idCol)).select(col(idCol),
      explode(split(col(textCol), " ")).as("tok")).filter(length(col("tok")) > 0)
    val x = (coalesce(ascii(substring(col("tok"), 1, 1)), lit(0)) * 16777216L +
      coalesce(ascii(substring(col("tok"), 2, 1)), lit(0)) * 65536L +
      coalesce(ascii(substring(col("tok"), 3, 1)), lit(0)) * 256L +
      coalesce(ascii(substring(col("tok"), 4, 1)), lit(0))).cast("long")
    val withX = toks.withColumn("x", x)
    // numBits parallel sum aggregates (map-side combinable) instead of
    // exploding one row per (token, bit) — same win as minhashSignatures
    val aggs = hashParams(numBits).map { case (j, a, b) =>
      sum((hashAbModP(a, b, col("x")) % 2) * 2 - 1).as(s"s$j")
    }
    val wide = withX.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val sigExpr = hashParams(numBits).map { case (j, _, _) =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    wide.select(col(idCol), sigExpr.as("simhash"))
  }

  /** Embedding-cosine near-dup pairs within a scope: cosine(e_a, e_b) ≥
    * threshold (the semantic-dedup step of a training-data pipeline).
    * Vectors are pre-normalized (norms computed once per vector); the scoped
    * pair join uses the codegen'd dot product. At cluster scale the scope
    * column is an LSH bucket or cluster id — the quadratic work only happens
    * inside scopes, same contract as [[ngramJaccardPairs]]. */
  def embedCosinePairs(df: DataFrame, idCol: String, embCol: String,
                       scopeCol: String, threshold: Double): DataFrame = {
    import graft.functions.ArrayMath
    val e0 = transform(col(embCol), x => x.cast("double"))
    val base = Spread.shared(Spread.byKey(df, col(idCol))
      .select(col(scopeCol).as("__s"), col(idCol).as("__id"), e0.as("__e0"))
      .withColumn("__n", sqrt(ArrayMath.dot(col("__e0"), col("__e0"))))
      // zero-norm vectors have no direction: excluded, matching the
      // Similarity.normalized contract and the DuckDB oracles' WHERE
      .filter(col("__n") > 0)
      .select(col("__s"), col("__id"),
        transform(col("__e0"), x => x / col("__n")).as("__e")))
    val a = base.select(col("__s"), col("__id").as("id_a"), col("__e").as("__ea"))
    val b = base.select(col("__s").as("__s2"), col("__id").as("id_b"),
      col("__e").as("__eb"))
    Spread.saltedJoin(a, b,
        col("__s") === col("__s2") && col("id_a") < col("id_b"),
        col("id_a"), SALT)
      .withColumn("__cos", ArrayMath.dot(col("__ea"), col("__eb")))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__cos"), 8).as("cosine"))
  }

  /** Connected components over a near-dup pair list — the clustering step
    * between candidate pairs and the deduplicated corpus (pairs alone can't
    * be deduplicated: a~b and b~c must collapse to ONE representative even
    * when a~c was never emitted).
    *
    * Iterative min-label propagation: every node starts as its own label;
    * each round a node takes the min of its own and its neighbors' labels.
    * Converges to comp(x) = min id reachable from x, which is deterministic
    * and engine-independent (the DuckDB oracle computes the same fixpoint
    * with a recursive CTE).
    *
    * Scale design: each round is one shuffle of the (symmetrized) edge list
    * keyed by the high-cardinality node id — evenly distributed, map-side
    * combinable min agg, no driver-side graph. A pointer-jumping shortcut
    * (comp(x) <- comp(comp(x)), a self-join of the label table) halves the
    * remaining propagation distance each round, so convergence takes
    * O(log diameter) rounds even on pathological chain graphs (dense
    * near-dup clusters converge in 2-3). Convergence is detected by the
    * label SUM, which is strictly decreasing until fixpoint (labels only
    * ever decrease), so the check is a 1-row aggregate, not a join.
    * `localCheckpoint` cuts lineage so the plan stays flat across rounds
    * (on a real cluster, `checkpoint` to reliable storage).
    *
    * Input: edges (id_a, id_b) + the node table; output (id, comp).
    *
    * Results are memoized per (session, canonical input plans): the loop's
    * output is checkpoint-backed, so Spark's plan-keyed CacheManager can't
    * dedupe it across queries — several registered queries (components +
    * corpus selection) share one labeling, and without the memo each would
    * re-run the candidate-pair pipeline AND the full iteration. */
  // keyed on the canonicalized plan OBJECTS (deep case-class equality —
  // LocalRelation data included; a toString key would collide plans whose
  // rendering hides the data). Bounded LRU with unpersist-on-evict (same
  // lifecycle as simhashPairsMemo): the values are localCheckpoint-backed,
  // so an unbounded map would pin checkpoint blocks forever in a
  // long-lived session with varying inputs.
  private val ccMemo = new BoundedMemo[
    (Int, Any, Any, String, Int), DataFrame](4)(_.unpersist(false))

  def connectedComponents(edges: DataFrame, nodes: DataFrame, idCol: String,
                          maxIter: Int = 25): DataFrame = {
    val key = (edges.sparkSession.hashCode(),
      edges.queryExecution.analyzed.canonicalized,
      nodes.queryExecution.analyzed.canonicalized, idCol, maxIter)
    ccMemo.getOrCompute(key, connectedComponentsImpl(edges, nodes, idCol, maxIter))
  }

  private def connectedComponentsImpl(edges: DataFrame, nodes: DataFrame,
                                      idCol: String, maxIter: Int): DataFrame = {
    if (nodes.isEmpty)
      return nodes.select(col(idCol).cast("long").as(idCol),
        col(idCol).cast("long").as("comp"))
    // materialize the edge list once — its lineage (often a whole candidate-
    // pair pipeline) would otherwise re-execute on every iteration
    // lazy: sym materializes inside iteration 1's job, comp inside the
    // seed-sum job below (the BPE r18 pattern — no dedicated init jobs)
    val sym = edges.select(col("id_a").cast("long").as("__src"),
        col("id_b").cast("long").as("__dst"))
      .union(edges.select(col("id_b").cast("long").as("__src"),
        col("id_a").cast("long").as("__dst")))
      .localCheckpoint(eager = false)
    var comp = nodes
      .select(col(idCol).cast("long").as("__nid"), col(idCol).cast("long").as("__c"))
      .localCheckpoint(eager = false)
    var prevSum = comp.agg(sum("__c")).head().getLong(0)
    var iter = 0
    var converged = false
    // Iteration restructured (r18) for driver/job overhead — at any scale
    // the tables here are node/edge-sized and checkpoint-backed, so the
    // loop's cost is jobs x planning, not data (measured 2.4 s steady for
    // 5000 nodes / 57 k edges at sf0.1, ~8 consumer queries):
    //  - neighbor-min + self-label fused into ONE tagged union-aggregate
    //    (min(__c), max(__m)) instead of an aggregate + a left join; the
    //    __m = 1 filter keeps exactly comp's node set, so stray edge
    //    endpoints are dropped precisely as the old left-join-from-comp
    //    did (label evolution is bit-identical: min over {own} ∪ nbrs);
    //  - both pointer-jump references read the AGGREGATE, whose input
    //    exchange is reused — the edge join below it executes once per
    //    iteration instead of twice (the two references previously
    //    re-executed the whole stepped subtree under different keys);
    //  - the checkpoint is LAZY and materializes inside the convergence
    //    sum's job: one job per iteration instead of two.
    while (iter < maxIter && !converged) {
      val stepped = sym.join(comp, sym("__dst") === comp("__nid"))
        .select(col("__src").as("__nid"), col("__c"), lit(0).as("__m"))
        .unionByName(comp.select(col("__nid"), col("__c"), lit(1).as("__m")))
        .groupBy(col("__nid"))
        .agg(min("__c").as("__c"), max("__m").as("__m"))
        .filter(col("__m") === 1)
        .select(col("__nid"), col("__c"))
      // pointer jump: follow my label's own label (labels are node ids, so
      // every label resolves) — doubles the shortcut length per round
      val next = stepped.as("l")
        .join(stepped.select(col("__nid").as("__jid"), col("__c").as("__jc")),
          col("l.__c") === col("__jid"))
        .select(col("l.__nid").as("__nid"),
          least(col("l.__c"), col("__jc")).as("__c"))
        .localCheckpoint(eager = false)
      val s = next.agg(sum("__c")).head().getLong(0)
      comp.unpersist()
      comp = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    comp.select(col("__nid").as(idCol), col("__c").as("comp"))
  }

  /**
   * Integer fixed-point PageRank over an undirected (id_a, id_b) edge list
   * — the centrality signal for duplicate-cluster representative selection:
   * the member most linked into its near-dup cluster is the best keeper
   * (it shares fingerprints with the most variants), a third policy next
   * to min-id (dedup_cluster_keep) and max-quality (dedup_cluster_best).
   *
   * Engine-portable by construction: ranks live in micro-units
   * (bigint, r₀ = 10⁶); each of the `iters` unrolled iterations is
   * contrib(u) = r(u) div deg(u) (integer division) and
   * r'(v) = 150000 + (85 · Σ_{u~v} contrib(u)) div 100 — every operation
   * is exact integer arithmetic, so any SQL engine replays it bit-for-bit.
   * Isolated nodes settle at the damping floor 150000.
   *
   * Scale shape: per iteration, one join of the rank table to the
   * symmetrized edge list on src + one map-side-combinable sum keyed by
   * dst — both shuffles on the high-cardinality node id, no windows, no
   * driver-side graph. The edge list (often a whole candidate-pair
   * pipeline) is shared once across all iterations.
   *
   * Input: edges (id_a, id_b) + node table; output (id, rank_micro).
   */
  /**
   * Semi-supervised label propagation over the near-dup graph (the
   * clamped-seed variant of Raghavan et al.'s LPA): seeds keep their
   * label forever; each synchronous round, every still-unlabeled node
   * adjacent to ≥1 labeled node takes the MAJORITY label of its labeled
   * neighbors (ties break to the lexicographically smallest label) and
   * records the round it was reached. The cheap transductive classifier
   * for "label 10% of the corpus, infer the rest through near-dup
   * structure" — language/domain/quality labels flow across duplicates.
   *
   * Scale shape: per round, one equi-join of edges against current labels
   * (shuffles on the high-cardinality node id), an anti-join to restrict
   * to the frontier, and a majority vote as a map-side-combinable count +
   * struct-min — no windows over the graph, no driver-side adjacency.
   * Fixed `rounds` unrolls into one declarative plan; each round's label
   * table is shared (persisted) so round r+1 doesn't recompute r.
   *
   * Input: edges (id_a, id_b), node table with `seedLabel` (null =
   * unlabeled). Output: (idCol, label, round) for every node labeled
   * within `rounds` rounds (round 0 = seed).
   */
  def labelPropagation(edges: DataFrame, nodes: DataFrame, idCol: String,
                       seedLabel: Column, rounds: Int = 3): DataFrame = {
    val sym = Spread.shared(
      edges.select(col("id_a").cast("long").as("__src"),
          col("id_b").cast("long").as("__dst"))
        .union(edges.select(col("id_b").cast("long").as("__src"),
          col("id_a").cast("long").as("__dst"))))
    var cur = Spread.shared(nodes
      .select(col(idCol).cast("long").as("__id"), seedLabel.as("label"))
      .filter(col("label").isNotNull)
      .withColumn("round", lit(0)))
    for (r <- 1 to rounds) {
      val votes = sym
        .join(cur.select(col("__id").as("__src"), col("label")), "__src")
        .join(cur.select(col("__id").as("__dst")), Seq("__dst"), "left_anti")
        .groupBy(col("__dst"), col("label")).agg(count(lit(1)).as("__c"))
      val newly = votes.groupBy("__dst")
        .agg(min_by(col("label"), struct(-col("__c"), col("label"))).as("label"))
        .select(col("__dst").as("__id"), col("label"), lit(r).as("round"))
      cur = Spread.shared(cur.unionByName(newly))
    }
    cur.select(col("__id").as(idCol), col("label"), col("round"))
  }

  /**
   * Triangle counting over the near-dup graph — the classic distributed
   * graph kernel (node clustering structure; a near-dup cluster that's a
   * clique triangles densely, a chain doesn't). Canonical-orientation
   * algorithm: orient every edge low→high id, build wedges a<b<c by one
   * equi-join on the middle node, close them with one equi-join on
   * (a, c) — each triangle found exactly once, all joins on node-id
   * keys, no windows. Per-node counts via an explode + count.
   *
   * Output: (idCol, n_triangles) for nodes in ≥1 triangle.
   */
  def triangles(edges: DataFrame, idCol: String): DataFrame = {
    val e = Spread.shared(edges.select(
        least(col("id_a"), col("id_b")).cast("long").as("a"),
        greatest(col("id_a"), col("id_b")).cast("long").as("b"))
      .distinct())
    val tri = e
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as(idCol))
      .groupBy(idCol).agg(count(lit(1)).as("n_triangles"))
  }

  /**
   * DOULION approximate triangle counts (Tsourakakis, Kang & Faloutsos,
   * KDD 2009) — the 100 TB form of [[triangles]]. Exact enumeration is
   * wedge-bound, and on template corpora near-dup cluster size grows with
   * the corpus, so wedges grow quadratically in cluster size (measured:
   * 540 k wedges at sf0.1 → 486 M at sf1, a 900× blow-up on 10× docs —
   * the work, not the plan, is the cost). DOULION keeps each edge with
   * probability p = 1/`den` and scales every surviving triangle by p⁻³:
   * an unbiased estimator whose wedge work drops by p². The coin is a
   * DETERMINISTIC md5 hash of the oriented edge, so both engines sparsify
   * identically and the estimate is cross-engine EXACT — reproducible
   * sampling is also what a production rerun wants.
   *
   * Output: (idCol, est_triangles = n_sampled · den³) for nodes in ≥1
   * surviving triangle.
   */
  def trianglesDoulion(edges: DataFrame, idCol: String,
                       den: Int = 8): DataFrame = {
    val e = Spread.shared(edges.select(
        least(col("id_a"), col("id_b")).cast("long").as("a"),
        greatest(col("id_a"), col("id_b")).cast("long").as("b"))
      .distinct()
      .filter(pmod(Sketches.hash60c(
        concat_ws("_", col("a"), col("b"))), lit(den)) === 0))
    val tri = e
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as(idCol))
      .groupBy(idCol)
      .agg((count(lit(1)) * (den.toLong * den * den)).as("est_triangles"))
  }

  /**
   * Bounded-round k-core peel over the near-dup graph (Seidman 1983;
   * distributed peeling à la Montresor et al.). Round r drops every node
   * whose degree WITHIN the current survivor set is < k; after enough
   * rounds the survivor set is exactly the k-core (the maximal subgraph
   * where every node has ≥ k neighbors inside it). The k-core separates
   * densely-replicated boilerplate/template clusters (cliques survive)
   * from incidental pairwise matches (chains and stars peel away) — the
   * graph-shape complement to triangle counting.
   *
   * Semantics are the BOUNDED peel: exactly `rounds` rounds (early exit
   * when a round removes nothing is a pure optimization — all later
   * rounds are no-ops). The oracle unrolls the same rounds as plain
   * chained CTEs, so both engines agree on ANY input, converged or not;
   * KCoreSpec proves fixpoint equality against an exact referee when
   * `rounds` covers the peel depth.
   *
   * Each round is one edges⋈survivors semi-join + one degree aggregation —
   * linear shuffles on node-id keys, no windows, no collects; the edge
   * list is checkpointed once so candidate-pair lineage doesn't re-run
   * per round.
   *
   * Output: (idCol, core_deg) for survivors; core_deg = within-core degree
   * measured in the final round.
   */
  def kCore(edges: DataFrame, nodes: DataFrame, idCol: String,
            k: Int, rounds: Int = 4): DataFrame = {
    if (nodes.isEmpty)
      return nodes.select(col(idCol).cast("long").as(idCol),
        lit(0L).as("core_deg"))
    // lazy init checkpoints: materialize inside the first round's job
    val sym = edges.select(col("id_a").cast("long").as("__src"),
        col("id_b").cast("long").as("__dst"))
      .union(edges.select(col("id_b").cast("long").as("__src"),
        col("id_a").cast("long").as("__dst")))
      .distinct()
      .localCheckpoint(eager = false)
    var surv = nodes.select(col(idCol).cast("long").as("__id"))
      .localCheckpoint(eager = false)
    var deg: DataFrame = null
    var n = surv.count()
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      deg = sym
        .join(surv.select(col("__id").as("__src")), "__src")
        .join(surv.select(col("__id").as("__dst")), "__dst")
        .groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
      // lazy checkpoint: materializes inside the convergence count's job
      // (one job per round instead of two — the BPE/cc r18 pattern)
      val next = deg.filter(col("__deg") >= k)
        .select(col("__src").as("__id"))
        .localCheckpoint(eager = false)
      val m = next.count()
      converged = m == n
      surv = next
      n = m
      r += 1
    }
    if (deg == null) surv.select(col("__id").as(idCol), lit(0L).as("core_deg"))
    else deg.filter(col("__deg") >= k)
      .select(col("__src").as(idCol), col("__deg").as("core_deg"))
  }

  def pageRank(edges: DataFrame, nodes: DataFrame, idCol: String,
               iters: Int = 3): DataFrame = {
    // cache the symmetric edges PRE-PARTITIONED by __src: the degree
    // aggregation, the e=sym⋈deg build and every iteration's contribution
    // join are all keyed on __src, so the cached partitioning serves all
    // of them — without it each of the `iters` iterations re-exchanged
    // the full edge relation (the largest table in the loop; r17: 3
    // edge-sized exchanges in keyphrase_rank's plan, all removable)
    val sym = Spread.shared(Spread.byKey(
      edges.select(col("id_a").cast("long").as("__src"),
          col("id_b").cast("long").as("__dst"))
        .union(edges.select(col("id_b").cast("long").as("__src"),
          col("id_a").cast("long").as("__dst"))), col("__src")))
    val deg = sym.groupBy("__src").agg(count(lit(1)).as("__deg"))
    val e = sym.join(deg, "__src")
    var r = nodes.select(col(idCol).cast("long").as("__nid"),
      lit(1000000L).as("__r"))
    for (_ <- 1 to iters) {
      val contrib = e.join(r, col("__src") === col("__nid"))
        .select(col("__dst"), expr("__r div __deg").as("__c"))
        .groupBy("__dst").agg(sum("__c").as("__t"))
      // NOTE (r17): each iteration references r twice, so the final plan
      // carries 2^iters copies of the seed subtree (keyphrase_rank's
      // explain is ~97 KB) — but caching the per-round rank table
      // (Spread.shared, the labelPropagation pattern) was measured
      // SLOWER: ReusedExchange already dedupes the replicated subtrees
      // at execution, and the 3 extra cache materializations cost more
      // than the planning overhead they save (same-subset A/B:
      // keyphrase_rank 3.54 -> 3.91 s, dedup_cluster_central
      // 0.64 -> 2.41 s). Deliberately left uncached.
      // NOTE (r18): the aggregated-message form — contributions UNIONED
      // with a zero seed row per node into ONE aggregate, no second join
      // — was also measured SLOWER on the same subset (keyphrase_rank
      // 2.55 -> 3.12 s, dedup_cluster_central 4.45 -> 5.39 s cold-basis):
      // the seed branch references r with NO exchange above it, so
      // ReusedExchange can no longer dedupe the replicated rank subtree
      // and every iteration re-executes the previous one's lineage.
      // Both rank-table references must stay under identical exchanges
      // (the join + left-join shape below) for the reuse to fire.
      r = r.select(col("__nid"))
        .join(contrib, col("__nid") === col("__dst"), "left")
        .select(col("__nid"),
          expr("CAST(150000 + (85 * coalesce(__t, 0)) div 100 AS BIGINT)")
            .as("__r"))
    }
    r.select(col("__nid").as(idCol), col("__r").as("rank_micro"))
  }

  /** Bounded LRU over the simhash pair graph (the kmeans/LM memo
    * pattern): ~10 registered graph queries (components, cluster keepers,
    * PageRank, label propagation, k-core, report) read the SAME pair
    * relation, and bulk drivers release the Spread registry between
    * queries — without the memo each re-runs signature build + the scoped
    * pair join cold. The value is a localCheckpoint (near-dup pairs are a
    * tiny fraction of the corpus), surviving registry release. */
  private val simhashPairsMemo =
    new BoundedMemo[(Int, Any, String), DataFrame](4)(_.unpersist(false))

  /** SimHash near-dup pairs within a scope: hamming(sig_a, sig_b) <= maxDist. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   scopeCol: String, numBits: Int, maxDist: Int,
                   salt: Int = SALT): DataFrame = {
    val key = (df.sparkSession.hashCode(),
      df.queryExecution.analyzed.canonicalized,
      s"$idCol|$textCol|$scopeCol|$numBits|$maxDist|$salt")
    simhashPairsMemo.getOrCompute(key,
      // lazy: the first consumer action materializes the pair blocks —
      // no dedicated memo-fill job
      simhashPairsImpl(df, idCol, textCol, scopeCol, numBits, maxDist, salt)
        .localCheckpoint(eager = false))
  }

  private def simhashPairsImpl(df: DataFrame, idCol: String, textCol: String,
                               scopeCol: String, numBits: Int,
                               maxDist: Int, salt: Int): DataFrame = {
    val sig = Spread.shared(simhash(df, idCol, textCol, numBits)
      .join(df.select(col(idCol), col(scopeCol)), idCol))
    val a = sig.select(col(scopeCol).as("__s"), col(idCol).as("id_a"),
      col("simhash").as("sig_a"))
    val b = sig.select(col(scopeCol).as("__s2"), col(idCol).as("id_b"),
      col("simhash").as("sig_b"))
    // the scope column has few distinct values — a salted shuffle join keeps
    // pair generation at scopes × SALT parallelism with bounded build sides
    Spread.saltedJoin(a, b,
        col("__s") === col("__s2") && col("id_a") < col("id_b"),
        col("id_a"), salt)
      .withColumn("hamming", bit_count(expr("sig_a ^ sig_b")))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    * clusters scope the quadratic cosine work, then within each cluster a
    * vector is DROPPED iff some lower-id cluster-mate has cosine ≥ tau.
    * The rule is SURVIVOR-INDEPENDENT (the witness may itself have been
    * dropped) — deliberately NOT chained-greedy, whose keep set depends on
    * iteration order and is awkward to replay cross-engine; lowest id per
    * ε-neighborhood is the engine-portable survivor choice.
    *
    * Output: the kept rows (vec_id, cell). Scale contract: clustering is
    * the bounded-model [[Similarity.kmeansLoop]] (no data-sized driver
    * state), and the pair work is [[embedCosinePairs]]'s salted shuffle
    * join scoped to cells — quadratic only within a cluster, never global. */
  def semDedup(df: DataFrame, idCol: String, embCol: String, dims: Int,
               nCells: Int, iters: Int, tau: Double): DataFrame = {
    val (_, assigned) =
      Similarity.kmeansLoop(df, idCol, embCol, nCells, dims, iters)
    val cells = Spread.shared(
      assigned.select(col("id").as(idCol), col("cell")))
    val withCell = df.select(col(idCol).cast("long").as(idCol), col(embCol))
      .join(cells, idCol)
    val removed = embedCosinePairs(withCell, idCol, embCol, "cell", tau)
      .select(col("id_b").as(idCol)).distinct()
    cells.join(removed, Seq(idCol), "left_anti")
      .select(col(idCol).as("vec_id"), col("cell"))
  }

  /** Max gram positions per document for [[winnowFingerprints]]' packed
    * (hash, position) encoding — 2^20 grams (≈1M tokens/doc). */
  val WinnowPosCap: Int = 1 << 20

  /**
   * Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003 —
   * the MOSS algorithm): from each sliding window of `w` consecutive
   * word-n-gram hashes, keep the minimum (rightmost on ties). Guarantees
   * every match of length ≥ w+n−1 tokens shares a fingerprint while
   * selecting only ~2/(w+1) of positions — the local, position-robust
   * alternative to MinHash for substring-level near-dup detection.
   *
   * Scale shape: windows never cross documents, so everything is one
   * partitioned window pass (ROWS frame of w, partitioned by doc) over the
   * exploded gram relation + a distinct — no self-join, no broadcast.
   * Ties resolve rightmost via a packed (hash·2^20 + reversed-pos) key, so
   * both engines agree exactly; positions are capped at 2^20 grams/doc
   * (docs past ~1M tokens should be chunked first — see chunkOverlap).
   *
   * Returns distinct (id, fp_pos, fp_hash).
   */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         n: Int, w: Int): DataFrame = {
    val grams = Spread.byKey(df, col(idCol)).select(col(idCol),
        posexplode(TextAnalysis.textNgrams(col(textCol), n))
          .as(Seq("pos", "ngram")))
      .withColumn("__h",
        graft.functions.Md5Prefix.md5PrefixLong(col("ngram"), 8))
    val byDoc = Window.partitionBy(col(idCol))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val cap = lit(WinnowPosCap.toLong)
    // a doc past the position cap must FAIL (packed keys would bleed into
    // the neighboring hash's space and silently corrupt fingerprints);
    // the guard is inside the packed expression so pruning can't drop it
    val packed = expr(
      s"IF(pos < $WinnowPosCap, __h * $WinnowPosCap + ($WinnowPosCap - 1 - pos), " +
        "raise_error('winnowFingerprints: doc exceeds 2^20 grams - chunk it first (see chunkOverlap)'))")
    grams
      .withColumn("__n", count(lit(1)).over(byDoc))
      .withColumn("__m", min(packed).over(win))
      .filter(col("pos") <= col("__n") - w) // full windows only
      .select(col(idCol),
        (cap - 1 - pmod(col("__m"), cap)).cast("long").as("fp_pos"),
        expr(s"__m div ${WinnowPosCap}").cast("long").as("fp_hash"))
      .distinct()
  }

  /**
   * Candidate near-dup pairs from shared winnowing fingerprints — the
   * MOSS match step: docs sharing ≥ `minShared` distinct fingerprint
   * hashes are substring-overlap candidates. The join is an equi-join on
   * the fingerprint hash (the LSH-banding shape); hot hashes (ubiquitous
   * grams — "stop grams") are dropped first via a document-frequency cap,
   * which bounds the per-key pair fan-out at maxDf² and is standard MOSS
   * practice (ubiquitous code shares no signal anyway).
   *
   * Returns (id_a, id_b, n_shared) with id_a < id_b.
   */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  n: Int, w: Int, minShared: Int, maxDf: Int): DataFrame = {
    val fps = Spread.shared(
      winnowFingerprints(df, idCol, textCol, n, w)
        .select(col(idCol), col("fp_hash")).distinct())
    val rare = fps.groupBy("fp_hash")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf && col("__df") > 1)
    val keyed = fps.join(rare, "fp_hash")
    keyed.select(col("fp_hash"), col(idCol).as("id_a"))
      .join(keyed.select(col("fp_hash"), col(idCol).as("id_b")), "fp_hash")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * LSH quality evaluation: precision/recall of the MinHash-LSH candidate
   * pairs (estimate ≥ threshold) against the exact shingle-Jaccard truth
   * (jaccard ≥ threshold) over the same corpus and the same char-3
   * shingles — the eval that justifies replacing the O(n²) exact pass with
   * the banded sketch. The truth side IS the documented all-pairs exact
   * baseline; evaluation inherently pays it — so the eval runs on the
   * deterministic `evalSlice` of the corpus (both sides filtered
   * identically; precision/recall are estimated on the slice), exactly
   * like [[graft.ops.Similarity.annRecall]] runs on a query sample.
   * Output: one row (n_true, n_lsh, n_hit, precision, recall).
   */
  def lshQuality(df0: DataFrame, idCol: String, textCol: String,
                 numHashes: Int, bands: Int, threshold: Double,
                 evalSlice: Column): DataFrame = {
    val df = df0.filter(evalSlice)
    val lsh = minhashLshPairs(df, idCol, textCol, numHashes, bands, threshold)
      .select(col("id_a"), col("id_b"), lit(1L).as("__l"))
    // the truth side is ONE scope over a FIXED-SIZE sample: salt to the
    // core count (not the global SALT=8 scoped-join default) so the
    // all-pairs intersect work spreads over every core — replicating a
    // bounded sample is free at any scale (r17: the 8-way salt left the
    // quality harnesses on 1-2 busy tasks under local[32])
    val wideSalt = math.max(SALT,
      df0.sparkSession.sparkContext.defaultParallelism)
    val truth = ngramJaccardPairs(df.withColumn("__all", lit(1)), idCol,
        textCol, "__all", 3, threshold, salt = wideSalt)
      .select(col("id_a"), col("id_b"), lit(1L).as("__t"))
    // ONE full-outer join + one aggregation: the naive three-branch plan
    // (count(lsh) × count(truth) × count(lsh⋈truth)) executes each pair
    // sub-plan twice — at eval-sample scale that doubles the dominant
    // all-pairs truth cost for no reason
    lsh.join(truth, Seq("id_a", "id_b"), "full_outer")
      .agg(coalesce(sum(col("__t")), lit(0L)).as("n_true"),
        coalesce(sum(col("__l")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("__l") * col("__t")), lit(0L)).as("n_hit"))
      .select(col("n_true"), col("n_lsh"), col("n_hit"),
        round(expr("n_hit / nullif(n_lsh, 0)"), 9).as("precision"),
        round(expr("n_hit / nullif(n_true, 0)"), 9).as("recall"))
  }

  /** SimHash candidate quality vs the exact Jaccard truth on the SAME
    * bounded deterministic sample — [[lshQuality]]'s sibling for the
    * hamming-distance sketch, completing the eval pair: every
    * approximate near-dup path in the library ships with its measured
    * precision/recall against exact truth. Same one-full-outer-join
    * shape and fixed-size-sample rule (the truth side is all-pairs by
    * construction, so the slice must be bounded, never proportional).
    * Output: (n_true, n_sim, n_hit, precision, recall). */
  def simhashQuality(df0: DataFrame, idCol: String, textCol: String,
                     numBits: Int, maxDist: Int, threshold: Double,
                     evalSlice: Column): DataFrame = {
    val df = df0.filter(evalSlice).withColumn("__all", lit(1))
    // bounded-sample, single-scope pair joins: salt to core count (see
    // [[lshQuality]])
    val wideSalt = math.max(SALT,
      df0.sparkSession.sparkContext.defaultParallelism)
    val sim = simhashPairs(df, idCol, textCol, "__all", numBits, maxDist,
        salt = wideSalt)
      .select(col("id_a"), col("id_b"), lit(1L).as("__l"))
    val truth = ngramJaccardPairs(df, idCol, textCol, "__all", 3, threshold,
        salt = wideSalt)
      .select(col("id_a"), col("id_b"), lit(1L).as("__t"))
    sim.join(truth, Seq("id_a", "id_b"), "full_outer")
      .agg(coalesce(sum(col("__t")), lit(0L)).as("n_true"),
        coalesce(sum(col("__l")), lit(0L)).as("n_sim"),
        coalesce(sum(col("__l") * col("__t")), lit(0L)).as("n_hit"))
      .select(col("n_true"), col("n_sim"), col("n_hit"),
        round(expr("n_hit / nullif(n_sim, 0)"), 9).as("precision"),
        round(expr("n_hit / nullif(n_true, 0)"), 9).as("recall"))
  }

  /** Chunk-index cap for [[chunkDedup]]'s packed first-occurrence key. */
  val ChunkIdxCap: Long = 1L << 20

  /**
   * C4/RefinedWeb-style span-level exact dedup with document reassembly
   * (C4 removes every repeated three-sentence span corpus-wide, keeping
   * one occurrence; RefinedWeb dedups at line granularity): tokenize,
   * cut each document into consecutive `width`-token chunks, keep only
   * the FIRST occurrence of each distinct chunk text in corpus order
   * ((doc_id, chunk_idx) lexicographic), and rebuild each document from
   * its surviving chunks.
   *
   * Scale shape: first-occurrence selection is a map-side-combinable
   * `min` over the packed (doc_id, chunk_idx) key grouped by the chunk's
   * md5 digest — one shuffle on the digest, bounded state per distinct
   * chunk, no window over duplicate sets (a viral chunk with 10⁹ copies
   * still aggregates, it never sorts). Reassembly groups each doc's own
   * chunks — per-doc bounded.
   *
   * Output: (doc_id, n_chunks, n_kept, clean_text).
   */
  /** Shared segmentation for the chunk-granular curation ops: tokenize and
    * cut each document into consecutive `width`-token chunks →
    * (doc_id, chunk_idx, chunk_text). */
  private def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                          width: Int): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), posexplode(expr(
        // sequence(0, -1) DESCENDS in Spark — the empty-doc guard is required
        s"IF(size(__toks) = 0, array(), " +
          s"transform(sequence(0, (size(__toks) + ${width - 1}) div $width - 1), " +
          s"c -> array_join(slice(__toks, CAST(c * $width + 1 AS INT), $width), ' ')))"))
        .as(Seq("chunk_idx", "chunk_text")))

  /** Shared reassembly tail: every doc (kept or fully emptied) with its
    * surviving chunks re-joined in chunk order →
    * (doc_id, n_chunks, n_kept, clean_text). Per-doc bounded state. */
  private def reassembleChunks(df: DataFrame, idCol: String, textCol: String,
                               width: Int, kept: DataFrame): DataFrame = {
    val perDoc = df.select(col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        expr(s"CAST((size(__toks) + ${width - 1}) div $width AS INT)").as("n_chunks"))
    perDoc.join(
        kept.groupBy("doc_id").agg(
          count(lit(1)).cast("int").as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(chunk_idx, chunk_text))), x -> x.chunk_text)"))
            .as("clean_text")),
        Seq("doc_id"), "left")
      .na.fill(0, Seq("n_kept")).na.fill("", Seq("clean_text"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("clean_text"))
  }

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 width: Int): DataFrame = {
    val chunks = tokenChunks(df, idCol, textCol, width)
    // packed corpus-order key; docs past the cap must fail loudly (the
    // packed key would bleed into the next doc_id's space) — guard inside
    // the expression so pruning can't drop it
    val packed = expr(
      s"IF(chunk_idx < $ChunkIdxCap, doc_id * $ChunkIdxCap + chunk_idx, " +
        "raise_error('chunkDedup: doc exceeds 2^20 chunks'))")
    val firsts = chunks
      .withColumn("__key", packed)
      .withColumn("__dig", md5(col("chunk_text")))
      .groupBy("__dig").agg(min("__key").as("__first"))
    val kept = chunks
      .withColumn("__key", packed)
      .join(firsts, md5(col("chunk_text")) === firsts("__dig") &&
        col("__key") === firsts("__first"))
    reassembleChunks(df, idCol, textCol, width, kept)
  }

  /**
   * Boilerplate removal by corpus document frequency (the CCNet/RefinedWeb
   * line-wise filter: a segment that recurs across a large share of
   * documents is a header/footer/navigation string, not content). Unlike
   * [[chunkDedup]] — which keeps ONE occurrence of each repeated chunk —
   * this drops EVERY occurrence of any chunk whose document frequency
   * reaches `maxDfFrac` of the corpus, then rebuilds each document from
   * its surviving chunks.
   *
   * The threshold is a FRACTION of the document count, not an absolute
   * df: boilerplate is defined by pervasiveness, so the cut tracks corpus
   * growth and the removal rate stays stable from sf0.01 to 100 TB. Use an
   * exactly-representable fraction (1/32, 1/64, …) so the `df >= frac·n`
   * boundary is bit-identical across engines.
   *
   * Scale shape: document frequency is `count(distinct doc_id)` grouped by
   * the chunk digest — one shuffle, Spark's two-phase distinct aggregate,
   * bounded state per distinct chunk. The hot set (chunks over threshold)
   * is by definition a small relation — the removal join is an AQE
   * broadcast-able left-anti on the digest. Reassembly groups each doc's
   * own chunks — per-doc bounded. No windows, no corpus-sized state.
   *
   * Output: (doc_id, n_chunks, n_kept, clean_text).
   */
  def boilerplateChunks(df: DataFrame, idCol: String, textCol: String,
                        width: Int, maxDfFrac: Double): DataFrame = {
    val chunks = tokenChunks(df, idCol, textCol, width)
    val nDocs = df.select(count(lit(1)).as("__nd"))
    val hot = chunks
      .withColumn("__dig", md5(col("chunk_text")))
      .groupBy("__dig").agg(countDistinct(col("doc_id")).as("__df"))
      .crossJoin(nDocs) // 1-row corpus count: broadcast by construction
      .filter(col("__df").cast("double") >=
        lit(maxDfFrac) * col("__nd").cast("double"))
      .select("__dig")
    val kept = chunks.join(hot, md5(col("chunk_text")) === hot("__dig"),
      "left_anti")
    reassembleChunks(df, idCol, textCol, width, kept)
  }
}
