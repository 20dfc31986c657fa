package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Deduplication operators for large-scale training-data pipelines
  * (north-star extensions, SURVEY.md §7.1 step 6): exact, normalized,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * 100 TB design notes:
  *   - Exact dedup is a hash-groupBy — one shuffle on the content hash,
  *     map-side pre-aggregation, no driver state.
  *   - MinHash signatures are computed entirely MAP-SIDE with
  *     higher-order array expressions (transform/array_min over
  *     shingles) — no explode, no shuffle until LSH banding. The only
  *     shuffles are the band-bucket self-join (keys = (band, bandHash),
  *     well-distributed) and the final pair verification join.
  *   - The candidate self-join caps bucket blowup in practice because a
  *     bucket only forms on an exact signature-slice collision; for
  *     adversarial corpora (mass-duplicated boilerplate) add a bucket
  *     frequency cap before the join (drop buckets with > N members and
  *     route them to exact-hash dedup instead — they are exact or
  *     near-exact duplicates by construction).
  *   - All hashing is xxhash64 (codegen'd, seed-stable) — signatures are
  *     deterministic across runs and cluster sizes.
  */
object Dedup {

  /** Tokens column. */
  def toks(c: Column): Column = split(c, " ")

  /** Spread a SCAN-NARROW frame across the session's cores before
    * explosive per-row compute when its input parallelism is far below
    * them (guide §2.5's unsplittable-input rule). A fixture-scale
    * documents table is a single parquet row group, so every
    * `explode(shingles(toks(text)))` branch otherwise runs as ONE task
    * (~0.5–1.2 task-s each at sf0.1, sequential walls in d13/d15/
    * lexIndex while 31 cores idle — the round-19 profile). The check
    * is LAYOUT-derived, not a local[32] constant: at production scale
    * the scan already carries ≥ cores/4 partitions and this is the
    * identity — no shuffle is ever added. Identical spread(df) calls
    * inside one query produce canonically-equal exchanges that AQE
    * reuses, so multi-branch consumers still shuffle once.
    *
    * Callers must pass frames whose plan is scan + narrow transforms
    * only: the partition probe executes the frame's physical RDD
    * lineage, which for a plan with its own exchanges would
    * materialize those stages at query-build time. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 4 < want) df.repartition(want) else df
  }

  /** Distinct 3-word shingles, map-side, guarded for short docs. The
    * token array is lambda-bound (functions.Grams.bindArray): with a
    * plain outer reference, alias inlining re-evaluates the split once
    * per position — the O(L²) trap measured at 17× on sf0.1. */
  def shingles(tokens: Column, n: Int = 3): Column =
    graft.functions.Grams.bindArray(tokens) { t =>
      when(size(t) >= n,
        array_distinct(transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n))))))
        .otherwise(array(concat_ws(" ", t)))
    }

  /** [[shingles]] WITHOUT the per-doc dedup — the multiset variant
    * frequency counting needs (q81's CMS weights repeats; the dedup
    * family's set semantics must not). Same lambda-binding guard. */
  def shinglesMulti(tokens: Column, n: Int = 3): Column =
    graft.functions.Grams.bindArray(tokens) { t =>
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", t)))
    }

  /** `shingles(toks(text))` as ONE single-pass codegen kernel
    * ([[graft.functions.ShingleGrams]]) — bit-identical output
    * (ShingleSpec fuzzes the equivalence), ~2.5x cheaper per row than
    * the expression-tree form (guide §4: the HOF chain allocates the
    * token array, a slice array + concat per position, and a distinct
    * pass; the kernel emits zero-copy byte slices of the text). Every
    * text-source tokenize site in the engine calls this; [[shingles]]
    * stays for callers holding an ALREADY-COMPUTED token array. */
  def shingleSet(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.ShingleGrams(expression(text), n,
      distinct = true, emptyOnShort = false))
  }

  /** `shinglesMulti(toks(text))` as the same kernel (distinct off). */
  def shingleBag(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.ShingleGrams(expression(text), n,
      distinct = false, emptyOnShort = false))
  }

  /** d01: exact-duplicate statistics by content hash. */
  val d01ExactDedup: Q = Q(
    "d01_dedup_exact",
    """SELECT lang, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_unique,
      |  count(*) - count(DISTINCT md5(text)) AS n_dupes
      |FROM documents GROUP BY lang""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d).groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_unique"),
        (count(lit(1)) - countDistinct(md5($"text"))).as("n_dupes"))
  }

  /** d02: normalized dedup — survivors keep the min doc_id per
    * normalized-content hash (lower + trim + whitespace collapse). */
  val d02NormalizedDedup: Q = Q(
    "d02_dedup_normalized",
    """SELECT count(*) AS n_groups, CAST(sum(group_sz) AS BIGINT) AS n_docs,
      |  min(keeper) AS first_keeper, max(keeper) AS last_keeper
      |FROM (
      |  SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS h,
      |    min(doc_id) AS keeper, count(*) AS group_sz
      |  FROM documents GROUP BY h
      |)""".stripMargin) { (s, d) =>
    // Oracle notes: DuckDB regexp_replace needs the 'g' flag to match
    // Spark's replace-ALL semantics (PG-style first-match otherwise),
    // and sum(int) is CAST to BIGINT (DuckDB returns HUGEINT → float64
    // in pandas, a dtype mismatch vs Spark's int64).
    import s.implicits._
    Tables.documents(s, d)
      .groupBy(md5(lower(trim(regexp_replace($"text", " +", " ")))).as("h"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("group_sz"))
      .agg(count(lit(1)).as("n_groups"), sum($"group_sz").as("n_docs"),
        min($"keeper").as("first_keeper"), max($"keeper").as("last_keeper"))
  }

  /** d03: MinHash + LSH near-dup pairs, verified by exact Jaccard.
    *
    * Pipeline: map-side signatures → band explode → self-join on
    * (band, bandHash) → distinct candidate pairs → exact-Jaccard
    * verification join (integer arithmetic: 2·|∩| ≥ |∪| ⇔ J ≥ 0.5 —
    * no float threshold jitter).
    *
    * Hash family (PORTABLE, so the whole sketch is oracle-checkable):
    * one md5 per shingle split into two 32-bit halves (lo, hi), then
    * h_i = (lo + i·hi) mod p with p = 2^31-1 — the Kirsch-Mitzenmacher
    * construction (one strong hash + linear combinations preserves
    * LSH guarantees). Every term stays below 2^38, so the arithmetic
    * is exact BIGINT in Spark AND DuckDB — which turns the round-1
    * "minhash is engine-specific → rows-only" verdict row into a full
    * hash-green check. Also cheaper than the previous 64 independent
    * xxhash64 calls per shingle: one digest + 64 fused
    * multiply-add-mods. */
  val d03MinhashLsh: Q = Q(
    "d03_minhash_lsh",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |       FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |hs AS (SELECT doc_id,
      |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 2147483647 AS lo,
      |         ('0x' || substr(md5(g), 9, 8))::BIGINT % 2147483647 AS hi
      |       FROM sh),
      |mins AS (SELECT doc_id, i, min((lo + i * hi) % 2147483647) AS mh
      |         FROM hs, LATERAL (SELECT unnest(range(0, 64)) AS i) ii
      |         GROUP BY doc_id, i),
      |bandhash AS (SELECT doc_id, i // 4 AS band,
      |               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bh
      |             FROM mins GROUP BY doc_id, i // 4),
      |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |          FROM bandhash x JOIN bandhash y
      |            ON x.band = y.band AND x.bh = y.bh
      |              AND x.doc_id < y.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
      |          FROM cands c
      |          JOIN sh a ON a.doc_id = c.doc_a
      |          JOIN sh b ON b.doc_id = c.doc_b AND a.g = b.g
      |          GROUP BY c.doc_a, c.doc_b)
      |SELECT doc_a, doc_b, CAST(inter AS INT) AS inter,
      |  CAST(s1.n + s2.n - inter AS INT) AS uni,
      |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
      |FROM inter p
      |JOIN sizes s1 ON p.doc_a = s1.doc_id
      |JOIN sizes s2 ON p.doc_b = s2.doc_id
      |WHERE 2 * inter >= (s1.n + s2.n - inter)""".stripMargin) { (s, d) =>
    minhashPairs(s, d, numHashes = 64, bands = 16)
  }

  /** Mersenne-prime field for the K-M hash family (fits 64 linear
    * combos in exact BIGINT arithmetic in any engine). Cost note: the
    * md5+conv seed is ~1.5x the native xxhash64 family it replaced —
    * the price of cross-engine verifiability. The family is pluggable:
    * a production deployment that doesn't need differential checking
    * swaps the two seed columns back to xxhash64(i, g) and keeps the
    * rest of the pipeline unchanged. */
  private val MinhashP = 2147483647L

  /** (doc_id, sig[numHashes]) minhash signatures — shingles exploded
    * ONCE and the signature built as numHashes min aggregates (an
    * array-expression formulation would be re-inlined per hash by
    * CollapseProject, recomputing the shingle array numHashes times).
    * One shuffle on doc_id, linear hashing. */
  def minhashSigs(s: SparkSession, d: String, numHashes: Int): DataFrame =
    minhashSigsOf(Tables.documents(s, d), numHashes)

  /** [[minhashSigs]] over an arbitrary (doc_id, text) frame — the
    * incremental form (d12) signs the BATCH and the CORPUS separately
    * instead of one fixture read. */
  def minhashSigsOf(docs: DataFrame, numHashes: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val shingleRows = spread(docs)
      .select($"doc_id", explode(shingleSet($"text")).as("g"))
      .select($"doc_id", md5($"g").as("m"))
      .select($"doc_id",
        (conv(substring($"m", 1, 8), 16, 10).cast("long") % MinhashP)
          .as("lo"),
        (conv(substring($"m", 9, 8), 16, 10).cast("long") % MinhashP)
          .as("hi"))
    shingleRows.groupBy($"doc_id")
      .agg(min($"lo" % MinhashP).as("h0"),
        (1 until numHashes).map(i =>
          min(($"lo" + lit(i.toLong) * $"hi") % MinhashP).as(s"h$i")): _*)
      .select($"doc_id",
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** (doc_id, band, bh) band rows from a signature table — the
    * join-key form both the self-join (d03) and the batch-vs-corpus
    * join (d12) bucket on. bands*r beyond the signature would slice()
    * empty/truncated band hashes that match almost everything — fail
    * loudly instead; the guard is a per-row assert_true riding the
    * existing scan (a driver-side length probe would cost an extra
    * job per call). */
  def bandSignatures(sigs: DataFrame, bands: Int, r: Int): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val checked = sigs.filter(assert_true(
      size($"sig") >= lit(bands * r),
      lit(s"bands*r = ${bands * r} exceeds minhash signature length"))
      .isNull)
    checked
      .select($"doc_id", explode(array((0 until bands).map(b => struct(
        lit(b).as("band"),
        concat_ws(",",
          slice($"sig", b * r + 1, r).cast("array<string>")).as("bh")
      )): _*)).as("b"))
      .select($"doc_id", $"b.band", $"b.bh")
  }

  /** LSH band candidates (doc_a < doc_b) from a signature table. */
  def bandCandidates(sigs: DataFrame, bands: Int, r: Int): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val banded = bandSignatures(sigs, bands, r)
    banded.as("x")
      .join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.bh" === $"y.bh" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
  }

  def minhashPairs(s: SparkSession, d: String, numHashes: Int,
      bands: Int): DataFrame =
    minhashPairsOf(Tables.documents(s, d), numHashes, bands)

  /** [[minhashPairs]] over an arbitrary (doc_id, text) relation — the
    * form the `neardup_pairs` / `dedup_clusters` TVFs plan from a SQL
    * prompt (the [[minhashSigsOf]] precedent). */
  def minhashPairsOf(docs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sigs = minhashSigsOf(docs, numHashes)
    val cands = bandCandidates(sigs, bands, numHashes / bands)
    val sets = spread(docs).select($"doc_id", shingleSet($"text").as("sh"))
    cands
      .join(sets.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).as("inter"),
        (size($"sh_a") + size($"sh_b") -
          size(array_intersect($"sh_a", $"sh_b"))).as("uni"))
      .filter(lit(2) * $"inter" >= $"uni")
      .select($"doc_a", $"doc_b", $"inter", $"uni",
        round($"inter" / $"uni", 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard pairs via inverted shingle index, with an
    * optional document-frequency cap: shingles appearing in more than
    * `maxDocFreq` documents are dropped from the INDEX side before the
    * self-join (stop-shingle removal — the standard skew guard at
    * corpus scale; a shingle in 1M docs would otherwise produce 10¹²
    * join pairs). Sizes are computed on the same capped shingle set so
    * the Jaccard denominator stays consistent. */
  def ngramJaccardPairs(s: SparkSession, d: String,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    import s.implicits._
    val shAll = spread(Tables.documents(s, d))
      .select($"doc_id", explode(shingleSet($"text")).as("g"))
    val sh =
      if (maxDocFreq == Long.MaxValue) shAll
      else {
        val rare = shAll.groupBy($"g").agg(count(lit(1)).as("df"))
          .filter($"df" <= maxDocFreq).select($"g")
        shAll.join(rare, "g")
      }
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"), $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b", $"inter",
        ($"na" + $"nb" - $"inter").as("uni"),
        round($"inter" / ($"na" + $"nb" - $"inter"), 6).as("jaccard"))
      .filter(lit(2) * $"inter" >= $"uni")
  }

  /** d04: EXACT n-gram Jaccard pairs — the ground truth d03
    * approximates. Uncapped (the oracle computes every pair); at corpus
    * scale call [[ngramJaccardPairs]] with a finite `maxDocFreq`. */
  val d04NgramJaccard: Q = Q(
    "d04_ngram_jaccard",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |       FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, inter,
      |  (s1.n + s2.n - inter) AS uni,
      |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
      |FROM pairs p
      |JOIN sizes s1 ON p.doc_a = s1.doc_id
      |JOIN sizes s2 ON p.doc_b = s2.doc_id
      |WHERE 2 * inter >= (s1.n + s2.n - inter)""".stripMargin) { (s, d) =>
    ngramJaccardPairs(s, d)
  }

  /** The minhash-LSH pair + recursive-CC CTE chain (through the
    * `clusters` CTE) shared as ONE string by every oracle that consumes
    * cluster assignments — d06b, d14, p11 — so a change to the hash
    * family, band count, or threshold cannot silently diverge one
    * consumer's oracle from the others (the D05Cap lesson applied to a
    * whole CTE block; the round-10 review caught the copies). dq05
    * keeps its own variant: its pair tail carries the jaccard VALUE the
    * cluster consumers drop. */
  val LshCcCtes: String =
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |       FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |hs AS (SELECT doc_id,
      |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 2147483647 AS lo,
      |         ('0x' || substr(md5(g), 9, 8))::BIGINT % 2147483647 AS hi
      |       FROM sh),
      |mins AS (SELECT doc_id, i, min((lo + i * hi) % 2147483647) AS mh
      |         FROM hs, LATERAL (SELECT unnest(range(0, 64)) AS i) ii
      |         GROUP BY doc_id, i),
      |bandhash AS (SELECT doc_id, i // 4 AS band,
      |               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bh
      |             FROM mins GROUP BY doc_id, i // 4),
      |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |          FROM bandhash x JOIN bandhash y
      |            ON x.band = y.band AND x.bh = y.bh
      |              AND x.doc_id < y.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
      |          FROM cands c
      |          JOIN sh a ON a.doc_id = c.doc_a
      |          JOIN sh b ON b.doc_id = c.doc_b AND a.g = b.g
      |          GROUP BY c.doc_a, c.doc_b),
      |dup AS (SELECT doc_a, doc_b FROM inter p
      |        JOIN sizes s1 ON p.doc_a = s1.doc_id
      |        JOIN sizes s2 ON p.doc_b = s2.doc_id
      |        WHERE 2 * inter >= (s1.n + s2.n - inter)),
      |sym AS (SELECT doc_a AS a, doc_b AS b FROM dup
      |        UNION SELECT doc_b, doc_a FROM dup),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym UNION SELECT a, a FROM sym
      |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      |clusters AS (SELECT a AS doc_id, min(b) AS cluster_id
      |             FROM reach GROUP BY a)""".stripMargin

  /** d13: the EXACT Jaccard ≥ 0.5 pair set — d04's answer to the row —
    * computed sub-quadratically via prefix filtering (the AllPairs /
    * PPJoin candidate bound; Bayardo et al. WWW'07, Xiao et al.
    * WWW'08). Where d03 trades recall for scale (LSH misses ~29% of
    * threshold-band pairs at 10×, SCALE artifact d03 rows), d13 keeps
    * the answer EXACT and still prunes the candidate join: it shares
    * d04's oracle string verbatim, so the driver hash-proves that a
    * sub-quadratic plan reproduces the quadratic ground truth.
    *
    * The bound: under any global total order over shingles, if
    * J(A,B) ≥ τ then A and B share a shingle inside both PREFIXES of
    * length |X| − ⌈τ·|X|⌉ + 1 (the smallest common shingle must sit in
    * each side's prefix: J ≥ τ ⟹ |A∩B| ≥ τ·(|A∪B|) ≥ τ·|X|, and a
    * suffix of length ⌈τ·|X|⌉ − 1 < τ·|X| cannot hold every common
    * shingle). With τ = 0.5 the prefix is ⌊n/2⌋+1 — the index join
    * touches barely half of each posting list — and the order is
    * RARE-FIRST (ascending document frequency, shingle as tie-break),
    * so the shingles that do land in prefixes are precisely the ones
    * with the shortest posting lists. d04's inverted-index join pays
    * Σ_g df(g)²; d13 pays that sum only over prefix occurrences of
    * rare shingles (the measured candidate reduction at the 10× stress
    * fixture is the SCALE artifact's d13_candidate_reduction row). The
    * size filter max(na,nb) ≤ 2·min(na,nb) (J ≥ 0.5 forces sizes
    * within 2×) prunes candidates before the verification join.
    *
    * 100 TB: two linear shuffles (df count on g, per-doc window on
    * doc_id), a prefix-only index self-join, then d03's verification
    * join shape — no stage touches all pairs, no driver state. */
  /** The (doc_id, g, n) PREFIX rows of each document's rare-first-
    * ordered shingle set — the AllPairs prefix n − ⌈τ·n⌉ + 1 (⌊n/2⌋+1
    * at d13's τ=0.5; ⌊n/5⌋+1 at d15's containment τ=0.8). Exposed so
    * ScaleStressSpec measures the candidate-join work Σ_g c_g² on
    * exactly the rows the production join sees. */
  def prefixRows(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sh = spread(docs)
      .select($"doc_id", explode(shingleSet($"text")).as("g"))
    // global rare-first canonical order = (document frequency, shingle)
    val dfTab = sh.groupBy($"g").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy($"doc_id").orderBy($"df", $"g")
    val whole = Window.partitionBy($"doc_id")
    sh.join(dfTab, "g")
      .withColumn("r", row_number().over(byDoc))
      .withColumn("n", count(lit(1)).over(whole))
      .filter($"r" <= $"n" - ceil($"n" * tau) + 1)
      .select($"doc_id", $"g", $"n")
  }

  def prefixJaccardPairs(s: SparkSession, d: String): DataFrame =
    prefixJaccardPairsOf(Tables.documents(s, d))

  /** [[prefixJaccardPairs]] over an arbitrary (doc_id, text) frame —
    * lets DedupSpec property-test the AllPairs bound on randomized
    * corpora against a driver-side brute force, where a fixture can
    * only witness the shingle distributions it happens to contain. */
  def prefixJaccardPairsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pref = prefixRows(docs)
    val cands = pref.as("x").join(pref.as("y"),
        $"x.g" === $"y.g" && $"x.doc_id" < $"y.doc_id" &&
          greatest($"x.n", $"y.n") <= lit(2) * least($"x.n", $"y.n"))
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    val sets = spread(docs)
      .select($"doc_id", shingleSet($"text").as("sh"))
    cands
      .join(sets.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("inter"),
        (size($"sh_a") + size($"sh_b") -
          size(array_intersect($"sh_a", $"sh_b"))).cast("long").as("uni"))
      .filter(lit(2) * $"inter" >= $"uni")
      .select($"doc_a", $"doc_b", $"inter", $"uni",
        round($"inter" / $"uni", 6).as("jaccard"))
  }

  /** d13 rides d04's oracle STRING — literally the same object — so the
    * equality of the two answers is enforced by the driver, not by a
    * copied-and-hopefully-identical SQL text. */
  val d13PrefixJaccard: Q = Q(
    "d13_prefix_jaccard", d04NgramJaccard.oracle.get) { (s, d) =>
    prefixJaccardPairs(s, d)
  }

  /** d15: EXACT CONTAINMENT join — the asymmetric dedup signal the
    * whole Jaccard family is BLIND to by design: a short document
    * embedded verbatim in a long one (quotation, aggregation-page
    * inclusion, chat-log requoting) has high |A∩B|/|A| but LOW
    * Jaccard, and d04/d13's max≤2·min size filter excludes the pair
    * outright. d15 reports ordered pairs where ≥ 80% of doc_a's
    * shingle set lies inside doc_b's (docs with < 5 shingles dropped —
    * at τ=0.8 a two-shingle doc is "contained" on one collision).
    *
    * Sub-quadratic by the one-sided prefix bound: |A∩B| ≥ ⌈0.8·|A|⌉
    * forces A's smallest common shingle into A's rare-first prefix of
    * length |A| − ⌈0.8·|A|⌉ + 1 = ⌊|A|/5⌋+1 (B is unconstrained, so
    * only A is prefix-restricted — candidates are A-prefix rows
    * against the full inverted index, NOT prefix×prefix). The answer
    * is EXACT (no false negatives, verification is the full set
    * intersection) and the DedupSpec property test brute-forces the
    * claim on randomized corpora. The full-index side takes d04's
    * stop-shingle df cap ([[D15Cap]], candidate side ONLY — see
    * there); the prefix side is already the rarest fifth of each doc.
    *
    * Threshold in exact integers: 5·inter ≥ 4·na ⟺ containment ≥ 0.8
    * — no float jitter at the boundary. */
  /** The stop-shingle document-frequency cap on d15's B-side inverted
    * index (d04's `maxDocFreq` skew guard, D05Cap's shared-constant
    * discipline): a shingle in more than this many docs is dropped
    * from CANDIDATE GENERATION — its posting list would contribute
    * df·prefCount join pairs dominated by boilerplate. Verification
    * still intersects the FULL shingle sets, so every emitted pair's
    * (inter, na, containment) is exact; capping can only MISS a pair.
    *
    * The miss condition is EXACT and SQL-expressible: a qualifying
    * pair is found ⟺ the two docs share at least one sub-cap shingle.
    * (⟸: if a shared sub-cap shingle g is in A's rare-first prefix,
    * its capped index row joins directly; if g sits OUTSIDE the
    * prefix, every prefix shingle is rarer than g — so the shared
    * prefix shingle the AllPairs bound guarantees is itself sub-cap
    * and survives the cap. ⟹: the capped index only holds sub-cap
    * shingles.) d15's oracle encodes this characterization (the
    * `rare` CTE with this constant interpolated — D05Cap's
    * discipline), so the capped query is hash-exact BY CONTRACT at
    * any fixture; what a corpus loses vs the raw τ-containment truth
    * — pairs whose entire overlap is boilerplate — is measured at the
    * 10× stress fixture (ScaleStressSpec's d15_capped_agreement /
    * d15_capped_work_reduction rows). */
  val D15Cap: Long = 256L

  /** d15 over an arbitrary (doc_id, text) frame — the prefixJaccardPairsOf
    * pattern: DedupSpec's property test brute-forces THIS function on
    * randomized corpora, so the shipped candidate/verification stages
    * are what gets certified, not an inline copy that could drift. */
  def containmentPairsOf(docs: DataFrame,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // A-side: τ=0.8 prefix (the rarest fifth), small docs dropped early
    val pref = prefixRows(docs, tau = 0.8).filter($"n" >= 5)
    // B-side inverted index — containment puts no bound on B, so the
    // index is full EXCEPT the df cap's stop-shingles (d04's device)
    val shRaw = spread(docs)
      .select($"doc_id".as("doc_b"),
        explode(shingleSet($"text")).as("gb"))
    val shAll =
      if (maxDocFreq == Long.MaxValue) shRaw
      else {
        val rare = shRaw.groupBy($"gb").agg(count(lit(1)).as("dfb"))
          .filter($"dfb" <= maxDocFreq).select($"gb")
        shRaw.join(rare, "gb")
      }
    val cands = pref.as("x")
      .join(shAll, $"x.g" === $"gb" && $"x.doc_id" =!= $"doc_b")
      .select($"x.doc_id".as("doc_a"), $"doc_b")
      .distinct()
    val sets = spread(docs).select($"doc_id", shingleSet($"text").as("sh"))
    cands
      .join(sets.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("inter"),
        size($"sh_a").cast("long").as("na"))
      .filter($"na" >= 5 && lit(5) * $"inter" >= lit(4) * $"na")
      .select($"doc_a", $"doc_b", $"inter", $"na",
        round($"inter" / $"na", 6).as("containment"))
  }

  val d15ContainmentJoin: Q = Q(
    "d15_containment_join",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |       FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |dfs AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
      |rare AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
      |         JOIN dfs d ON d.g = a.g
      |         WHERE d.df <= $D15Cap),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |            count(*) AS inter
      |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2)
      |SELECT p.doc_a, p.doc_b, inter, s1.n AS na,
      |  round(CAST(inter AS DOUBLE) / s1.n, 6) AS containment
      |FROM inter p
      |JOIN sizes s1 ON p.doc_a = s1.doc_id
      |JOIN rare r ON r.doc_a = p.doc_a AND r.doc_b = p.doc_b
      |WHERE s1.n >= 5 AND 5 * inter >= 4 * s1.n""".stripMargin) { (s, d) =>
    containmentPairsOf(Tables.documents(s, d), D15Cap)
  }

  /** d14: CANONICAL-DOC selection — the survivorship POLICY layer over
    * d06b's clusters. c01's removal rule (drop every pair's doc_b =
    * keep the lowest doc_id) is the cheap pairwise policy; the
    * principled one keeps the HIGHEST-QUALITY member of each near-dup
    * cluster (t02's scorer, ties broken by doc_id), because a crawl's
    * duplicates differ exactly in the dimensions quality measures —
    * boilerplate wrappers, truncation, encoding damage — and min-id
    * keeps whichever copy was crawled first, not the best one. Reports
    * one row per cluster: the keeper, its quality, and how many
    * members the policy removes.
    *
    * Composes three shipped stages verbatim (d03 LSH pairs → d06b's
    * star-contraction CC → t02's scorer); the oracle chains their
    * hash-verified SQL, so the whole policy is differential-tested.
    *
    * 100 TB: the cluster table covers only docs with a near-dup (a
    * small fraction of the corpus); quality is map-side; the pick is
    * one window over cluster_id. Nothing touches non-duplicated
    * docs. */
  val d14CanonicalDocs: Q = Q(
    "d14_canonical_docs",
    s"""$LshCcCtes,
      |f AS (SELECT doc_id,
      |        len(string_split(text, ' ')) AS n_tokens,
      |        len(list_filter(string_split(text, ' '),
      |            x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS n_stop,
      |        len(list_distinct(string_split(text, ' '))) AS n_types
      |      FROM documents),
      |q AS (SELECT doc_id, round(
      |        0.4 * (CASE WHEN n_tokens BETWEEN 20 AND 80
      |               THEN 1.0 ELSE 0.5 END)
      |        + 0.3 * least(CAST(n_stop AS DOUBLE) / n_tokens * 10.0, 1.0)
      |        + 0.3 * (CAST(n_types AS DOUBLE) / n_tokens), 6) AS quality
      |      FROM f),
      |r AS (SELECT c.cluster_id, c.doc_id, q.quality,
      |        row_number() OVER (PARTITION BY c.cluster_id
      |          ORDER BY q.quality DESC, c.doc_id) AS rk
      |      FROM clusters c JOIN q USING (doc_id))
      |SELECT cluster_id,
      |  max(CASE WHEN rk = 1 THEN doc_id END) AS keeper,
      |  max(CASE WHEN rk = 1 THEN quality END) AS best_quality,
      |  CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(count(*) - 1 AS BIGINT) AS n_removed
      |FROM r GROUP BY cluster_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val clusters = connectedComponentsStars(
      minhashPairs(s, d, numHashes = 64, bands = 16)
        .select($"doc_a", $"doc_b"))
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
    val quality = TextAnalysis.t02QualityScore.build(s, d)
      .select($"doc_id", $"quality")
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"quality".desc, $"doc_id")
    clusters.join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy($"cluster_id")
      .agg(max(when($"rk" === 1, $"doc_id")).as("keeper"),
        max(when($"rk" === 1, $"quality")).as("best_quality"),
        count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_removed"))
  }

  /** SimHash via explode + 60 signed-bit-vote sums (same CollapseProject
    * rationale as the minhash signature: an array-aggregate formulation
    * re-evaluates per-token work per bit).
    *
    * 60-bit hash, md5-derived (15 hex chars): the widest value that
    * parses as a POSITIVE BIGINT in every engine — 64 bits would
    * overflow DuckDB's checked signed shifts while Java wraps silently,
    * which is exactly the kind of divergence that keeps a sketch
    * rows-only. 60 bits costs ~0.4% collision-probability vs 64 for
    * hamming bucketing; being oracle-checkable costs nothing. */
  def simhashByExplode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tokenRows = Tables.documents(s, d)
      .select($"doc_id", explode(toks($"text")).as("tok"))
      .select($"doc_id",
        conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long").as("h"))
    tokenRows.groupBy($"doc_id")
      .agg(sum(when(shiftright($"h", 0).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as("v0"),
        (1 until 60).map(b =>
          sum(when(shiftright($"h", b).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L)).as(s"v$b")): _*)
      .select($"doc_id",
        (0 until 60).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh60"))
  }

  /** d05: SimHash near-dup buckets — documents sharing a 15-bit simhash
    * band (4 bands ⇒ catches pairs with hamming distance ≤ 3 in at
    * least one band with high probability). The md5-derived 60-bit
    * hash makes the whole sketch — votes, sign bits, banding, hamming
    * filter — reproducible in DuckDB, so the driver hash-checks it
    * (was rows-only with xxhash64).
    *
    * FAT-BUCKET CAP (round 9): the full-registry sf1 sweep caught d05
    * as its one super-linear query — 14.06x on 10x data, because
    * heavily-mutated near-copies collapse into shared band buckets
    * (the biggest sf1 bucket held 5,805 docs ≈ 12% of the corpus;
    * Σn² = 268M candidate slots). Same guard as m03b/d07: buckets
    * over 256 docs salt into md5(doc_id) sub-cells, bounding pair
    * work at N·cap per band; recall inside a fat bucket decays by the
    * documented ~1/cells, everywhere else untouched. The oracle
    * mirrors the salt exactly (m03b's proven SQL construction), so
    * the query stays hash-green at every scale; at the sf0.01 oracle
    * fixture the cap never binds (max bucket 27). Recall price
    * MEASURED at the 10x stress fixture (SCALE_r09 d05_* rows):
    * 0.63 of all pairs, 0.71 of hamming<=3 pairs survive the cap —
    * the bounded trade for dropping 14x super-linear to 3.85x. */
  /** Single source of truth for d05's fat-bucket cap: interpolated into
    * the registered oracle SQL below AND passed to [[simhashPairs]], so
    * the two sides cannot drift apart silently (round-9 advice). */
  val D05Cap: Int = 256

  val d05Simhash: Q = Q(
    "d05_simhash",
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |h AS (SELECT doc_id,
      |        ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      |      FROM toks),
      |votes AS (SELECT doc_id, b,
      |            sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |          FROM h, LATERAL (SELECT unnest(range(0, 60)) AS b) bb
      |          GROUP BY doc_id, b),
      |sh AS (SELECT doc_id,
      |         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b)
      |                       ELSE 0 END) AS BIGINT) AS sh60
      |       FROM votes GROUP BY doc_id),
      |banded AS (SELECT doc_id, sh60, b AS band,
      |             (sh60 >> (b * 15)) & 32767 AS bh
      |           FROM sh, LATERAL (SELECT unnest(range(0, 4)) AS b) bb),
      |bsz AS (SELECT band, bh, count(*) AS n FROM banded
      |        GROUP BY band, bh),
      |sc AS (SELECT b.doc_id, b.sh60, b.band, b.bh,
      |         ('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 4))::BIGINT
      |           % CAST(ceil(CAST(z.n AS DOUBLE) / $D05Cap) AS BIGINT) AS cell
      |       FROM banded b JOIN bsz z ON b.band = z.band AND b.bh = z.bh)
      |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |  CAST(bit_count(xor(x.sh60, y.sh60)) AS INT) AS hamming
      |FROM sc x JOIN sc y
      |  ON x.band = y.band AND x.bh = y.bh AND x.cell = y.cell
      |    AND x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.sh60, y.sh60)) <= 8""".stripMargin) { (s, d) =>
    simhashPairs(s, d, cap = D05Cap)
  }

  /** d05's full pipeline with an explicit fat-bucket cap —
    * ScaleStressSpec measures the cap's recall price at 10x by running
    * capped vs uncapped (cap = Int.MaxValue) on the same fixture. */
  def simhashPairs(s: SparkSession, d: String, cap: Int): DataFrame = {
    import s.implicits._
    val withHash = simhashByExplode(s, d)
    val banded = withHash.select($"doc_id", $"sh60",
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright($"sh60", b * 15).bitwiseAND(0x7FFF).as("bh"))): _*))
        .as("b"))
      .select($"doc_id", $"sh60", $"b.band", $"b.bh")
    val sizes = banded.groupBy($"band", $"bh").agg(count(lit(1)).as("n"))
    val salted = banded.join(broadcast(sizes), Seq("band", "bh"))
      .withColumn("cell",
        conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("long") % ceil($"n" / cap.toDouble).cast("long"))
    salted.as("x").join(salted.as("y"),
      $"x.band" === $"y.band" && $"x.bh" === $"y.bh" &&
        $"x.cell" === $"y.cell" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        bit_count($"x.sh60".bitwiseXOR($"y.sh60")).as("hamming"))
      .filter($"hamming" <= 8)
      .distinct()
  }

  /** d06: duplicate CLUSTERS — connected components over the d04
    * near-dup pair graph, so "keep one doc per duplicate group" works
    * even when A~B and B~C but A!~C (pairwise removal would keep A and
    * C yet drop their shared link B's evidence).
    *
    * Algorithm: iterative min-label propagation over the symmetrized
    * edge list — each round every node takes the min label among
    * itself and its neighbors; converges in O(component diameter)
    * rounds (near-dup clusters are shallow in practice). Each round is
    * one shuffle join; lineage is cut per round with localCheckpoint
    * (cluster: use a checkpoint dir). The query runs on
    * [[connectedComponentsStars]] — the large-star/small-star
    * contraction whose round count is O(log² n) independent of
    * component diameter — so adversarially deep duplicate chains can't
    * stall it; the min-label variant below is the shallow-graph fast
    * path and both are cross-checked for label equality in DedupSpec.
    *
    * Oracle: DuckDB recursive-CTE transitive closure over the same
    * pairs, min reachable id per node.
    *
    * SCALE NOTE: the CC is O(log² n) rounds, but the d04 PAIR STAGE
    * this form inherits is the exact shared-shingle self-join — the
    * declared quadratic ground truth (the round-8 sf1 step measured
    * ~80x on 10x data). The production form is [[d06bDupClustersLsh]]:
    * the same CC over d03's LSH-verified pairs. */
  val d06DupClusters: Q = Q(
    "d06_dup_clusters",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |       FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |dup AS (SELECT doc_a, doc_b FROM pairs p
      |        JOIN sizes s1 ON p.doc_a = s1.doc_id
      |        JOIN sizes s2 ON p.doc_b = s2.doc_id
      |        WHERE 2 * inter >= (s1.n + s2.n - inter)),
      |sym AS (SELECT doc_a AS a, doc_b AS b FROM dup
      |        UNION SELECT doc_b, doc_a FROM dup),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym UNION SELECT a, a FROM sym
      |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
      |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a"""
      .stripMargin) { (s, d) =>
    import s.implicits._
    connectedComponentsStars(
      ngramJaccardPairs(s, d).select($"doc_a", $"doc_b"))
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
  }

  /** d06b: duplicate clusters over the d03 MINHASH-LSH pair stage —
    * the SCALE PATH d06's ground-truth form cannot take: d06 inherits
    * d04's exact shingle self-join, whose shared-shingle buckets grow
    * with dup density (the round-8 sf1 step measured it ~80x on 10x
    * data — quadratic by inheritance). d06b swaps ONLY the pair stage
    * for d03's banded candidates + exact verification (identical pair
    * schema and threshold, recall bounded by the measured LSH floors
    * in the SCALE_r* artifact) and keeps the same star-contraction CC — the
    * swap the d06/c01 scaladocs always promised at 100 TB, now a
    * registered, oracled query. The oracle chains d03's hash-verified
    * CTEs into d06's recursive-CC SQL, so cluster assignments match
    * DuckDB bit-for-bit REGARDLESS of LSH recall (both engines see
    * the same candidate set). */
  val d06bDupClustersLsh: Q = Q(
    "d06b_dup_clusters_lsh",
    s"$LshCcCtes\nSELECT doc_id, cluster_id FROM clusters") { (s, d) =>
    import s.implicits._
    connectedComponentsStars(
      minhashPairs(s, d, numHashes = 64, bands = 16)
        .select($"doc_a", $"doc_b"))
      .select($"node".as("doc_id"), $"label".as("cluster_id"))
  }

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14):
    * converges in O(log² n) rounds REGARDLESS of component diameter,
    * where [[connectedComponents]]' min-label propagation needs
    * O(diameter) rounds — a 10⁶-doc near-dup CHAIN (each doc similar
    * only to its neighbors, common in incrementally-crawled boilerplate)
    * stalls label propagation at the iteration cap but contracts in
    * ~20 star rounds. Same output contract: (node, label), label = min
    * node id of the component.
    *
    * Each round is two groupBy-join passes (large-star hooks every
    * node's larger neighbors onto its local min; small-star re-hangs
    * the smaller neighbors), edge count never grows above the input
    * edge count + node count, and lineage is cut per round with
    * localCheckpoint (cluster: checkpoint dir). Used by d06; the
    * min-label variant is kept for the shallow-graph fast path and
    * cross-checked in DedupSpec. */
  def connectedComponentsStars(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val Seq(ca, cb) = pairs.columns.take(2).toSeq

    // large-star: for each u, attach neighbors v > u to m = min(Γ(u)∪{u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u".as("mu"), least($"mn", $"u").as("m"))
      sym.join(mins, $"u" === $"mu")
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .filter($"u" =!= $"v").distinct()
    }

    // small-star: orient u > v; re-hang Γ⁻(u) and u itself on the min
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      val mins = or.groupBy($"u").agg(min($"v").as("m"))
        .select($"u".as("mu"), $"m")
      or.join(mins, $"u" === $"mu")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins.select($"mu".as("u"), $"m".as("v")))
        .filter($"u" =!= $"v").distinct()
    }

    var edges = pairs
      .select(col(ca).cast("long").as("u"), col(cb).cast("long").as("v"))
      .filter($"u" =!= $"v").distinct().localCheckpoint()
    // derive the node universe from the CHECKPOINTED edges — deriving it
    // from `pairs` would re-run the (possibly expensive) upstream pair
    // computation a second time
    val nodes = edges.select($"u".as("n"))
      .union(edges.select($"v".as("n"))).distinct().localCheckpoint()
    // The previous round's count is CARRIED instead of re-counting the
    // checkpointed set every round (they are the same number by
    // construction) — one fewer driver-sequential job per round, and
    // this loop's rounds are latency-bound, not byte-bound, at fixture
    // scale. (Batching TWO star rounds per materialization was tried
    // and MEASURED SLOWER — 7.2-9.3 s vs 4.1-5.4 s on d06 at sf0.1:
    // the overshoot rounds past the fixed point cost more than the
    // saved checkpoint cadence when the graph contracts in few rounds.)
    var edgeCount = edges.count()
    var converged = false
    var iter = 0
    while (!converged && iter < 20) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextCount = next.count()
      // both sides are distinct sets: equal counts + one-way inclusion
      // is full set equality at half the except() cost
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    // fixed point is a forest of depth-1 stars rooted at component minima
    val roots = edges.select($"v").distinct()
    edges.select($"u".as("node"), $"v".as("label"))
      .union(roots.select($"v".as("node"), $"v".as("label")))
      .union( // isolated nodes (none from a pair list, kept for contract)
        nodes.join(edges.select($"u").union(edges.select($"v")).distinct(),
          $"n" === $"u", "left_anti").select($"n".as("node"), $"n".as("label")))
  }

  /** Min-label-propagation connected components over an undirected
    * (src, dst)-pair edge list; returns (node, label) with label = min
    * node id of the component. See [[d06DupClusters]] for scale notes. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val Seq(ca, cb) = pairs.columns.take(2).toSeq
    val sym = pairs.select(col(ca).as("src"), col(cb).as("dst"))
      .union(pairs.select(col(cb).as("src"), col(ca).as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select($"src".as("node")).distinct()
      .withColumn("label", $"node")
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < 25) {
      val nbrMin = sym.join(labels, $"dst" === $"node")
        .groupBy($"src").agg(min($"label").as("nbr"))
      // carry the previous label through the update so convergence is
      // read off the SAME checkpointed result — one join + one count
      // per round instead of a second change-detection join
      val next = labels.select($"node", $"label".as("old"))
        .join(nbrMin, $"node" === $"src", "left")
        .select($"node", $"old",
          least($"old", coalesce($"nbr", $"old")).as("label"))
        .localCheckpoint()
      converged = next.filter($"label" =!= $"old").isEmpty
      labels = next.select($"node", $"label")
      iter += 1
    }
    labels
  }

  /** d07: SEMANTIC dedup (SemDeDup shape: Abbas et al. 2023) — embedding
    * near-duplicates found by all-pairs cosine WITHIN k-means clusters
    * only. The cluster assignment ([[Similarity.kmeans]]) bounds the
    * quadratic term by the largest cluster instead of the corpus: at
    * 100 TB with k sized so clusters hold ~10⁵ vectors, the pair work
    * is Σ|cᵢ|² ≪ N², and each cluster's block self-join is an
    * independent shuffle partition. s03's corpus-wide all-pairs is the
    * ground truth this is recall-tested against in DedupSpec (a pair is
    * only missable when k-means separates it — the SemDeDup trade-off).
    *
    * Rows-only for the driver (the assignment is not SQL-expressible);
    * the spec pins the sharper facts: every emitted pair meets the
    * threshold, appears in s03's ground truth, and shares a cluster.
    * Implemented on [[semanticPairs]] below, which also carries the
    * skew guard (cluster-size cap).
    *
    * The d07 pair engine, exposed for DedupSpec's skew test. Clusters
    * larger than `maxClusterSize` are hash-salted into
    * ⌈n/maxClusterSize⌉ sub-cells and pairs are scored within a
    * sub-cell only, so the pair-join cost is bounded by
    * N·maxClusterSize even when k-means collapses — without the cap,
    * ONE skewed cluster re-introduces the corpus-quadratic term (and
    * its block self-join lands on one shuffle partition). Cross-cell
    * pairs inside an oversized cluster are the sacrificed recall: the
    * same trade SemDeDup already makes cluster-to-cluster. An
    * oversized cluster really signals k too small; the production
    * remedy is re-clustering within it, of which this deterministic
    * salt (pure hash of vec_id) is the zero-extra-pass approximation.
    *
    * @param emb    (vec_id, embedding)
    * @param assign (vec_id, c_id) cluster assignment */
  def semanticPairs(emb: DataFrame, assign: DataFrame, threshold: Double,
      maxClusterSize: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    // per-cluster sizes are k rows — broadcast; the salt keeps every
    // cell at ~maxClusterSize regardless of assignment skew
    val sizes = assign.groupBy($"c_id").agg(count(lit(1)).as("cn"))
    val cells = assign.join(broadcast(sizes), "c_id")
      .withColumn("n_cells",
        greatest(ceil($"cn".cast("double") / maxClusterSize), lit(1.0))
          .cast("long"))
      .select($"vec_id".as("a_id"), $"c_id",
        concat($"c_id".cast("string"), lit("#"),
          pmod(xxhash64($"vec_id", lit(7)), $"n_cells").cast("string"))
          .as("cell"))
    val scored = emb
      .select($"vec_id", $"embedding",
        Similarity.norm($"embedding").as("nrm"))
      .join(cells, $"vec_id" === $"a_id")
      .select($"vec_id", $"embedding", $"nrm", $"c_id", $"cell")
    val left = scored.select($"cell".as("cl1"), $"c_id".as("c1"),
      $"vec_id".as("doc_a"), $"embedding".as("va"), $"nrm".as("na"))
    val right = scored.select($"cell".as("cl2"), $"vec_id".as("doc_b"),
      $"embedding".as("vb"), $"nrm".as("nb"))
    left.join(right, $"cl1" === $"cl2" && $"doc_a" < $"doc_b")
      .withColumn("sim",
        Similarity.dot($"va", $"vb") / ($"na" * $"nb"))
      .filter($"sim" >= threshold)
      .select($"doc_a", $"doc_b", $"c1".as("cluster_id"),
        round($"sim", 6).as("sim"))
  }

  val d07SemanticDedup: Q = Q.noOracle("d07_semantic_dedup") { (s, d) =>
    import s.implicits._
    val (assign, _) = Similarity.kmeans(s, d)
    // cap sized for ~10⁵-vector cells at 100 TB; far above any fixture
    // cluster, so the fixture output is the pure SemDeDup shape
    semanticPairs(Tables.embeddings(s, d).select($"vec_id", $"embedding"),
      assign.select($"vec_id", $"c_id"), threshold = 0.42,
      maxClusterSize = 100000)
  }

  /** d07b: FIXED-POINT SemDeDup — the differential-oracle twin d07's
    * float path cannot be (the v02b move applied to the last
    * no-oracle-capable capability): semantic dedup's full pipeline —
    * cluster, assign, within-cell cosine gate — run end-to-end in
    * exact cross-engine arithmetic, so DuckDB recomputes the IDENTICAL
    * pair set. d07 stays registered as the float-k-means production
    * shape (its Lloyd means are order-dependent IEEE sums — genuinely
    * inexpressible differentially); d07b proves the CAPABILITY's
    * arithmetic the way v02b proves v02's.
    *
    * Determinism devices (all three from s07's PQ training, whole-
    * vector instead of per-subspace):
    *   1. INTEGER GRID: embeddings snapped to floor(x·200+0.5) BIGINTs
    *      — Lloyd's assignment distances are exact integer L2² and the
    *      one refinement round's centroid state is integer (sum, count)
    *      pairs, order-independent under any partitioning;
    *   2. RATIONAL CENTROIDS, never rounded: final assignment compares
    *      Σ(c_n·x_d − s_d)² (exact BIGINT) scaled by one IEEE division
    *      by c_n² — correctly rounded, bit-identical cross-engine
    *      (exact while cells stay under ~1.8M vectors: (2·106·c_n)²·64
    *      ≤ 2⁶³; the trained-k discipline keeps real cells far below);
    *   3. INTEGER THRESHOLD GATE: cos(a,b) ≥ 0.42 decided as
    *      dot > 0 ∧ 2500·dot² ≥ 441·n2a·n2b — all BIGINT (0.42² =
    *      441/2500 exactly), so the boundary cannot flicker on float
    *      noise; the emitted `sim` is one exact-integer division by a
    *      product-of-exact-doubles sqrt — deterministic to the bit,
    *      then rounded to 6dp (the d03 jaccard convention).
    * Seeds are the md5-rank top-16 (s07's seed device), k fixed at 16.
    *
    * 100 TB: identical bill shape to d07 — one broadcast-seed assign
    * pass, one (c_id, dim) shuffle for the refinement, one broadcast-
    * centroid encode, then within-cell pairs (at scale the cell cap
    * rides [[semanticPairs]]' salter unchanged — the cap is a cluster-
    * hygiene device orthogonal to the arithmetic proven here).
    *
    * The gate's grid bound is ENFORCED at runtime ([[D07bMaxN2]],
    * round-15 advice): Spark's 2500·dot² runs in 64-bit Long while
    * DuckDB's list_sum promotes to HUGEINT, so beyond the bound the
    * engines would diverge SILENTLY — the guard turns an out-of-range
    * corpus into a loud per-row error instead. */
  /** The largest per-vector Σqxᵢ² d07b's integer gate is PROVABLY
    * wrap-free under: with n2a, n2b ≤ M = 6.0e7, Cauchy–Schwarz gives
    * dot² ≤ n2a·n2b ≤ M², so 2500·dot² ≤ 9.0e18 < 2⁶³−1 and
    * 441·n2a·n2b ≤ 1.6e18 — every Long product in the gate stays
    * exact. (The fixture grid sits orders of magnitude below: 64 dims
    * × (|x|≤1 → qx ≤ 200)² = 2.56e6.) */
  val D07bMaxN2 = 60000000L

  /** Per-COORDINATE bound making Σqxᵢ² itself computable without
    * wrapping (the round-16 self-review finding: a squared norm that
    * already wrapped inside the dot kernel could land negative or
    * small-positive and sneak PAST the [[D07bMaxN2]] check): with
    * every |qxᵢ| ≤ 3.0e8, 64 · (3.0e8)² = 5.76e18 < 2⁶³−1, so the
    * kernel's sum is exact and the n2 the gate sees is the true
    * value. */
  val D07bMaxCoord = 300000000L

  /** Loud per-COORDINATE quantization onto the grid: floor(x·200+0.5)
    * guarded to [[D07bMaxCoord]] INSIDE the transform lambda — checked
    * once per element with no second pass over the array (a
    * when(exists(...), qx) form evaluated the whole 64-element
    * transform twice per row — self-review round 2), and bounded
    * SYMMETRICALLY without abs() (abs(Long.MinValue) wraps negative
    * under non-ANSI semantics, so a double→long cast that saturated
    * to MinValue would have slipped an abs()-based check; the
    * two-sided compare catches both saturation ends under ANSI and
    * non-ANSI alike). Applied at the grid's one materialization
    * point, so every downstream consumer (seeds, Lloyd, encode, pair
    * gate) sees only coordinates whose squares sum exactly. */
  private[graft] def d07bGridCell(x: Column): Column = {
    val scaled = x.cast("double") * 200.0 + 0.5
    val q = floor(scaled).cast("long")
    // NaN FIRST, and on the PRE-floor double (round-16 advice):
    // Spark's floor(double) already RETURNS LongType, so floor(NaN)
    // has silently become 0 before any isnan could see it — coordinate
    // 0 would sail through the two-sided range check instead of
    // erroring, the exact silent-miscount the guard exists to prevent.
    // NULL already fell through to the error branch (three-valued
    // compare), but is routed explicitly so the message names the
    // cause. ±Infinity needs no branch: the long conversion saturates
    // to Long.Min/MaxValue, which the two-sided compare catches.
    when(isnan(scaled) || scaled.isNull, raise_error(lit(
        "d07b: a NaN/NULL embedding coordinate cannot be " +
          "grid-quantized — the integer gate's arithmetic would be " +
          "silently wrong")))
      .otherwise(when(q <= D07bMaxCoord && q >= -D07bMaxCoord, q)
        .otherwise(raise_error(lit(
          s"d07b: a grid coordinate exceeds |x| <= $D07bMaxCoord — the " +
            "squared-norm kernel would overflow Long"))))
  }

  /** The dimensionality the [[D07bMaxCoord]] wrap-free proof is
    * stated for: 64 · (3.0e8)² = 5.76e18 < 2⁶³−1, but the same
    * per-coordinate bound wraps the squared-norm SUM for d ≥ 103
    * (d · 9.0e16 > 2⁶³) — and a wrapped sum can land back inside
    * [0, [[D07bMaxN2]]] and slip past [[d07bN2Guard]]. Enforced at
    * the grid's one materialization point ([[d07bGrid]], round-16
    * advice) so the proof's precondition is a runtime fact, not a
    * comment. */
  val D07bMaxDims = 64

  /** The grid's ONE materialization point: the per-element
    * quantization guard ([[d07bGridCell]]) under the per-vector
    * dimensionality guard ([[D07bMaxDims]]) — every downstream
    * consumer (seeds, Lloyd, encode, pair gate) sees only vectors
    * whose coordinate squares provably sum without wrapping. A NULL
    * array gets its own message (size(NULL) is NULL, which would
    * otherwise fall into the dimensionality branch and misdiagnose
    * the row — the operator would hunt for over-wide vectors instead
    * of the NULL). */
  private[graft] def d07bGrid(emb: Column): Column =
    when(emb.isNull, raise_error(lit(
        "d07b: a NULL embedding cannot be grid-quantized")))
      .otherwise(when(size(emb) <= D07bMaxDims,
          transform(emb, d07bGridCell(_)))
        .otherwise(raise_error(lit(
          s"d07b: embedding dimensionality exceeds $D07bMaxDims — the " +
            "squared-norm sum could wrap Long and bypass the n2 gate"))))

  /** Loud enforcement of [[D07bMaxN2]] on the (now provably exact —
    * see [[d07bGrid]]) per-vector squared norm; the n2 >= 0 leg
    * is belt-and-braces against any future caller that skips the grid
    * guard. */
  private[graft] def d07bN2Guard(n2: Column): Column =
    when(n2 >= 0L && n2 <= D07bMaxN2, n2).otherwise(
      raise_error(format_string(
        s"d07b: per-vector squared norm %d exceeds the $D07bMaxN2 grid " +
          "bound — the integer threshold gate would overflow Long", n2)))

  val d07bSemanticDedupFixed: Q = Q(
    "d07b_semantic_dedup_fixed",
    """WITH q0 AS (
      |  SELECT vec_id,
      |    [CAST(floor(x * 200.0 + 0.5) AS BIGINT)
      |     FOR x IN embedding::DOUBLE[]] AS qx
      |  FROM embeddings),
      |seeds AS (
      |  SELECT qx AS cv, row_number() OVER (ORDER BY md5(vec_id::VARCHAR),
      |    vec_id) AS c_id
      |  FROM q0 QUALIFY c_id <= 16),
      |assign0 AS (
      |  SELECT vec_id, qx, c_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY list_sum([(qx[i] - cv[i]) * (qx[i] - cv[i])
      |                         FOR i IN range(1, 65)]), c_id) AS rk
      |  FROM q0 CROSS JOIN seeds QUALIFY rk = 1),
      |dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      |refined AS (
      |  SELECT c_id, dim,
      |    CAST(sum(qx[dim]) AS BIGINT) AS s_d,
      |    CAST(count(*) AS BIGINT) AS c_n
      |  FROM assign0 CROSS JOIN dims
      |  GROUP BY c_id, dim),
      |enc AS (
      |  SELECT q.vec_id, r.c_id,
      |    CAST(sum((r.c_n * q.qx[r.dim] - r.s_d)
      |           * (r.c_n * q.qx[r.dim] - r.s_d)) AS BIGINT) AS i_int,
      |    max(r.c_n) AS c_n
      |  FROM q0 q CROSS JOIN refined r
      |  GROUP BY q.vec_id, r.c_id),
      |codes AS (
      |  SELECT vec_id, c_id,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY CAST(i_int AS DOUBLE) / (c_n * c_n), c_id) AS rk
      |  FROM enc QUALIFY rk = 1),
      |cellv AS (SELECT c.vec_id, c.c_id, q.qx
      |          FROM codes c JOIN q0 q USING (vec_id)),
      |pairs AS (
      |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, a.c_id AS cluster_id,
      |    list_sum([a.qx[i] * b.qx[i] FOR i IN range(1, 65)]) AS dot,
      |    list_sum([a.qx[i] * a.qx[i] FOR i IN range(1, 65)]) AS n2a,
      |    list_sum([b.qx[i] * b.qx[i] FOR i IN range(1, 65)]) AS n2b
      |  FROM cellv a JOIN cellv b
      |    ON a.c_id = b.c_id AND a.vec_id < b.vec_id)
      |SELECT doc_a, doc_b, CAST(cluster_id AS INT) AS cluster_id,
      |  round(dot / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)), 6)
      |    AS sim
      |FROM pairs
      |WHERE dot > 0 AND 2500 * dot * dot >= 441 * n2a * n2b"""
      .stripMargin) { (s, d) =>
    import s.implicits._
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // codegen'd exact-long kernel (functions/vector.scala): the HOF
    // zip_with+aggregate form allocates a 64-element array per PAIR,
    // which dominated the quadratic stage at sf1
    def idot(a: Column, b: Column): Column =
      column(graft.functions.LongVecDot(expression(a), expression(b)))
    // integer working set (the s07 grid), materialized once: seeds,
    // the Lloyd round, the encode and the pair stage all derive from it
    val q0 = Tables.embeddings(s, d).select($"vec_id",
      d07bGrid($"embedding").as("qx"))
      .localCheckpoint()
    // seed pick: distributed top-16 heap + broadcast rank (the s06/s07
    // device — c_id labels must equal the oracle's md5-order exactly)
    val seedPool = q0
      .withColumn("h", md5($"vec_id".cast("string")))
      .orderBy($"h", $"vec_id").limit(16)
      .localCheckpoint()
    val seeds = graft.operators.Ranks
      .tinyRank(seedPool, struct($"h", $"vec_id"), "c_id")
      .select($"c_id".cast("int").as("c_id"), $"qx".as("cv"))
    // one Lloyd round: integer argmin over broadcast seeds (struct-min
    // = map-side-combinable argmin with the (d2, c_id) tie-break), then
    // integer per-dim (sum, count) centroid state
    // Σ(x−c)² through the codegen'd exact-long kernel too (round-18):
    // this is the N×16 crossJoin stage, the same per-pair-allocation
    // cost idot was moved off of
    val assign0 = q0.crossJoin(broadcast(seeds))
      .groupBy($"vec_id")
      .agg(min(struct(
        column(graft.functions.LongVecSqDist(
          expression($"qx"), expression($"cv"))).as("d2"),
        $"c_id", $"qx")).as("best"))
      .select($"best.c_id".as("c_id"), $"best.qx".as("qx"))
    val refined = assign0
      .select($"c_id", posexplode($"qx").as(Seq("p", "x")))
      .groupBy($"c_id", ($"p" + 1).as("dim"))
      .agg(sum($"x").as("s_d"), count(lit(1)).as("c_n"))
    // final assignment to the RATIONAL centroid s/c via exact
    // Σ(c·x−s)² over one IEEE division by c² (s07's device 2)
    val enc = q0.select($"vec_id", posexplode($"qx").as(Seq("p", "x")))
      .select($"vec_id", ($"p" + 1).as("dim"), $"x")
      .join(broadcast(refined), "dim")
      .groupBy($"vec_id", $"c_id")
      .agg(sum(($"c_n" * $"x" - $"s_d") * ($"c_n" * $"x" - $"s_d"))
        .as("i_int"), max($"c_n").as("c_n"))
    val codes = enc
      .groupBy($"vec_id")
      .agg(min(struct(($"i_int".cast("double") / ($"c_n" * $"c_n"))
        .as("d2"), $"c_id")).as("best"))
      .select($"vec_id", $"best.c_id".as("c_id"))
    // within-cell pairs through the integer threshold gate. Two plan
    // rules keep the quadratic stage from dominating (together they
    // took the sf1 sweep time 93s -> 9s, scale step 12.2x -> 1.5x):
    // n² is a PER-VECTOR quantity — computed once here and joined,
    // never per pair — and the per-pair dot runs the codegen'd kernel
    // above instead of a HOF that allocates per pair
    val cellv = q0.join(codes, "vec_id")
      .select($"vec_id", $"c_id", $"qx",
        d07bN2Guard(idot($"qx", $"qx")).as("n2"))
    val left = cellv.select($"c_id", $"vec_id".as("doc_a"),
      $"qx".as("qa"), $"n2".as("n2a"))
    val right = cellv.select($"c_id".as("c2"), $"vec_id".as("doc_b"),
      $"qx".as("qb"), $"n2".as("n2b"))
    left.join(right, $"c_id" === $"c2" && $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"c_id", $"n2a", $"n2b",
        idot($"qa", $"qb").as("dot"))
      .filter($"dot" > 0 &&
        lit(2500L) * $"dot" * $"dot" >= lit(441L) * $"n2a" * $"n2b")
      .select($"doc_a", $"doc_b", $"c_id".cast("int").as("cluster_id"),
        round($"dot".cast("double") /
          sqrt($"n2a".cast("double") * $"n2b".cast("double")), 6).as("sim"))
  }

  /** d08: INCREMENTAL dedup — flag a new batch against the existing
    * corpus without ever comparing corpus x corpus (the production
    * shape for a continuously-ingesting pipeline; d01/d02 are the
    * full-corpus backfill shape). The fixture has no natural cross-set
    * duplicates, so the batch is constructed deterministically: the
    * odd-id docs (genuinely new) plus relabeled copies of every 10th
    * even-id doc with doubled spaces — normalization must see through
    * the perturbation and flag exactly those copies.
    *
    * 100 TB shape: cost is |batch| + |corpus| hashing and ONE shuffle
    * join on the 16-byte normalized hash — never |corpus|², and the
    * corpus side reduces to DISTINCT hashes before the join (a
    * map-side-combinable aggregate). When the daily batch is small
    * relative to the corpus this is the cheapest possible exactness
    * gate in front of the LSH near-dup pass (d03). */
  val d08IncrementalDedup: Q = Q(
    "d08_incremental_dedup",
    """WITH corpus AS (
      |  SELECT text FROM documents WHERE doc_id % 2 = 0),
      |batch AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, replace(text, ' ', '  ') AS text
      |  FROM documents WHERE doc_id % 10 = 0),
      |ch AS (SELECT DISTINCT
      |    md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS h
      |  FROM corpus),
      |bh AS (SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS h
      |  FROM batch)
      |SELECT bh.doc_id, (ch.h IS NOT NULL) AS dup_of_corpus
      |FROM bh LEFT JOIN ch USING (h)""".stripMargin) { (s, d) =>
    import s.implicits._
    def norm(c: Column): Column =
      md5(lower(trim(regexp_replace(c, " +", " "))))
    val docs = Tables.documents(s, d)
    val corpusH = docs.filter($"doc_id" % 2 === 0)
      .select(norm($"text").as("ch")).distinct()
    val batch = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text")
      .unionAll(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          regexp_replace($"text", " ", "  ").as("text")))
    batch.select($"doc_id", norm($"text").as("h"))
      .join(corpusH, $"h" === $"ch", "left_outer")
      .select($"doc_id", $"ch".isNotNull.as("dup_of_corpus"))
  }

  /** d12: incremental NEAR-dup — d08's daily-increment shape at d03's
    * near-duplicate level, the form a rolling crawl actually needs: an
    * exact-normalized hash (d08) misses a re-crawl that changed one
    * boilerplate line, so the batch is signed with minhash and
    * band-joined against the CORPUS side's band table, then exact-
    * verified — each batch doc reports whether the existing corpus
    * already holds a near-duplicate (jaccard >= 0.5) and the best
    * jaccard found. Fixture convention mirrors d08: corpus = even
    * docs, batch = odd docs plus suffix-perturbed copies of every
    * 10th doc (the suffix shifts ~8 shingles of ~52, jaccard ≈ 0.86 —
    * TRUE near-dups the exact-hash form cannot see).
    *
    * 100 TB shape: the corpus collapses to its (band, bh) table —
    * maintained INCREMENTALLY in production (append each ingested
    * batch's band rows); join work is proportional to batch-bucket
    * collisions, never corpus pairs; verification touches only
    * candidate shingle sets. One new shuffle per ingest, none over
    * the corpus text. */
  /** d12's oracle, shared verbatim by the queries that must land on the
    * same answer through different execution surfaces: d12 itself
    * (inline index), w06 (the index persisted + appended + probed from
    * parquet), and st15 (the index probed per streaming micro-batch). */
  val d12OracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |batch AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    text || ' zq1 zq2 zq3 zq4 zq5 zq6' AS text
      |  FROM documents WHERE doc_id % 10 = 0),
      |alld AS (SELECT 'c' AS side, doc_id, text FROM corpus
      |         UNION ALL SELECT 'b' AS side, doc_id, text FROM batch),
      |toks AS (SELECT side, doc_id, string_split(text, ' ') AS t
      |         FROM alld),
      |sh AS (SELECT DISTINCT side, doc_id,
      |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |       FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |hs AS (SELECT side, doc_id,
      |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 2147483647 AS lo,
      |         ('0x' || substr(md5(g), 9, 8))::BIGINT % 2147483647 AS hi
      |       FROM sh),
      |mins AS (SELECT side, doc_id, i,
      |           min((lo + i * hi) % 2147483647) AS mh
      |         FROM hs, LATERAL (SELECT unnest(range(0, 64)) AS i) ii
      |         GROUP BY side, doc_id, i),
      |bandhash AS (SELECT side, doc_id, i // 4 AS band,
      |               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bh
      |             FROM mins GROUP BY side, doc_id, i // 4),
      |cands AS (SELECT DISTINCT b.doc_id AS batch_id,
      |            c.doc_id AS corpus_id
      |          FROM bandhash b JOIN bandhash c
      |            ON b.band = c.band AND b.bh = c.bh
      |          WHERE b.side = 'b' AND c.side = 'c'),
      |sizes AS (SELECT side, doc_id, count(*) AS n FROM sh
      |          GROUP BY side, doc_id),
      |inter AS (SELECT cd.batch_id, cd.corpus_id, count(*) AS inter
      |          FROM cands cd
      |          JOIN sh a ON a.side = 'b' AND a.doc_id = cd.batch_id
      |          JOIN sh b ON b.side = 'c' AND b.doc_id = cd.corpus_id
      |            AND a.g = b.g
      |          GROUP BY cd.batch_id, cd.corpus_id),
      |ver AS (SELECT i.batch_id,
      |          max(round(CAST(inter AS DOUBLE) /
      |            (s1.n + s2.n - inter), 6)) AS best_jaccard
      |        FROM inter i
      |        JOIN sizes s1 ON s1.side = 'b' AND s1.doc_id = i.batch_id
      |        JOIN sizes s2 ON s2.side = 'c' AND s2.doc_id = i.corpus_id
      |        WHERE 2 * inter >= (s1.n + s2.n - inter)
      |        GROUP BY i.batch_id)
      |SELECT b.doc_id, (v.best_jaccard IS NOT NULL) AS dup_of_corpus,
      |  v.best_jaccard
      |FROM batch b LEFT JOIN ver v ON v.batch_id = b.doc_id"""
      .stripMargin

  /** d12's fixture convention, shared with w06/st15: corpus = even
    * docs; batch = odd docs plus suffix-perturbed copies of every 10th
    * doc (true near-dups the exact-hash form cannot see). */
  def d12Corpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).filter($"doc_id" % 2 === 0)
      .select($"doc_id", $"text")
  }

  def d12Batch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text")
      .unionAll(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" zq1 zq2 zq3 zq4 zq5 zq6")).as("text")))
  }

  /** d12's build with the index source EXPLICIT (a parameter, not a
    * process-global system property, which would race across suites
    * if the test JVMs ever ran parallel). `indexDir = Some(dir)` is
    * stored-index mode: the corpus is NEVER touched — the probe reads
    * the persisted band table AND the persisted shingle sets that
    * [[writeNearDupIndex]] maintains (write once, append per admitted
    * batch), so an ingest re-reads neither 100 TB of text nor its
    * tokenization; verification join work stays ∝ candidates. */
  def d12Build(s: SparkSession, d: String,
      indexDir: Option[String]): DataFrame = {
    import s.implicits._
    val corpus = d12Corpus(s, d)
    val (cBands, cSh) = indexDir match {
      case Some(dir) => readNearDupIndex(s, dir)
      case None => (corpusBandIndex(corpus),
        spread(corpus).select($"doc_id".as("corpus_id"),
          shingleSet($"text").as("sh_c")))
    }
    nearDupAgainstCorpus(d12Batch(s, d), cBands, cSh)
  }

  val d12IncrementalNearDup: Q = Q(
    "d12_incremental_neardup", d12OracleSql) { (s, d) =>
    d12Build(s, d, None)
  }

  /** The corpus-side near-dup INDEX d12 (and its streaming ingest
    * face) probes: (corpus_id, band, bh) minhash band rows. Production
    * maintains this incrementally — append each ingested batch's rows
    * after admission. */
  def corpusBandIndex(corpus: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    bandSignatures(minhashSigsOf(corpus, 64), bands = 16, r = 4)
      .select($"doc_id".as("corpus_id"), $"band", $"bh")
  }

  /** Writes (or appends) the COMPLETE stored near-dup index for a
    * corpus slice under `dest`: `bands/` — the (corpus_id, band, bh)
    * probe table, partitioned by band; `shingles/` — the (corpus_id,
    * sh_c) exact-verification sets, so a probe never re-tokenizes the
    * corpus either. The w06 query drives the write/append admission
    * cycle; [[d12Build]]'s stored-index mode and DedupSpec read it
    * back. Mode is "overwrite" for the initial build, "append" per
    * admitted batch. */
  def writeNearDupIndex(corpus: DataFrame, dest: String,
      mode: String): Unit = {
    val s = corpus.sparkSession
    import s.implicits._
    // the two legs write DISTINCT dirs off independent job chains —
    // wall is max not sum (guide §2.6, the writeLexIndexV2 precedent)
    graft.sources.Writers.inFlight(
      spread(corpus).select($"doc_id".as("corpus_id"),
          shingleSet($"text").as("sh_c"))
        .write.mode(mode).parquet(s"$dest/shingles")) { _ =>
      corpusBandIndex(corpus)
        .sortWithinPartitions("band")
        .write.mode(mode).partitionBy("band").parquet(s"$dest/bands")
    }
  }

  /** Reads a [[writeNearDupIndex]] directory back as the (bands,
    * shingles) pair [[nearDupAgainstCorpus]] consumes. */
  def readNearDupIndex(s: SparkSession, dest: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    (s.read.parquet(s"$dest/bands").select($"corpus_id", $"band", $"bh"),
      s.read.parquet(s"$dest/shingles").select($"corpus_id", $"sh_c"))
  }

  /** d12's core against a PRE-BUILT corpus index — shaped so a
    * streaming ingest gate can call it per micro-batch (StreamingSpec
    * drives exactly that through foreachBatch): sign the batch, probe
    * the index, exact-verify candidates against the corpus shingle
    * sets, report (doc_id, dup_of_corpus, best_jaccard) per batch
    * doc. Work is proportional to the BATCH's bucket collisions. */
  def nearDupAgainstCorpus(batch: DataFrame, cBands: DataFrame,
      cSh: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val bBands = bandSignatures(minhashSigsOf(batch, 64), 16, 4)
      .select($"doc_id".as("batch_id"), $"band", $"bh")
    val cands = bBands.join(cBands, Seq("band", "bh"))
      .select($"batch_id", $"corpus_id").distinct()
    val bSh = spread(batch).select($"doc_id".as("batch_id"),
      shingleSet($"text").as("sh_b"))
    val ver = cands
      .join(bSh, "batch_id")
      .join(cSh, "corpus_id")
      .select($"batch_id",
        size(array_intersect($"sh_b", $"sh_c")).as("inter"),
        (size($"sh_b") + size($"sh_c") -
          size(array_intersect($"sh_b", $"sh_c"))).as("uni"))
      .filter(lit(2) * $"inter" >= $"uni")
      .groupBy($"batch_id")
      .agg(max(round($"inter" / $"uni", 6)).as("best_jaccard"))
    batch.select($"doc_id")
      .join(ver, $"doc_id" === $"batch_id", "left_outer")
      .select($"doc_id", $"best_jaccard".isNotNull.as("dup_of_corpus"),
        $"best_jaccard")
  }

  /** d09: cross-corpus SEGMENT dedup (the C4 / RefinedWeb "line
    * dedup" step, re-shaped for the newline-free fixture): cut every
    * document into non-overlapping 10-word segments, and for any
    * segment text that occurs more than once ANYWHERE in the corpus
    * keep only the canonical first occurrence (min (doc_id, pos)) —
    * the per-document output is the surviving-segment count, the
    * removed count, and the md5 of the re-assembled cleaned text.
    *
    * Survivorship must be deterministic under any partitioning, so the
    * canonical occurrence is an arithmetic key `doc_id*100000 + pos`
    * min-reduced per segment hash — a plain partial/final aggregate,
    * no window, no sort.
    *
    * 100 TB shape: three shuffles, all on well-distributed keys —
    * (1) segment-hash groupBy for (count, canonical) over a NARROW
    * (16-byte hash, 8-byte key) relation; (2) a LEFT join of segments
    * against that table filtered to n > 1 — unique segments, the
    * overwhelming majority, pass through as a join miss untouched;
    * (3) the per-document re-assembly groupBy. Boilerplate segments
    * (the reason this step exists in C4) are exactly the hot keys —
    * the n>1 filter keeps the joined side proportional to DUPLICATED
    * text, not corpus size. */
  /** Exploded non-overlapping word-segment frame shared by d09 and the
    * c02 pipeline: one row per (doc, segment) with the segment text,
    * its word count, its md5 and the arithmetic canonical-occurrence
    * key (doc_id*100000 + pos — min-reducible, no window needed). */
  def segments(docs: DataFrame, width: Int = 10): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", $"ws",
        explode(sequence(lit(0), greatest(size($"ws") - 1, lit(0)),
          lit(width))).as("start"))
      .select($"doc_id", ($"start" / width).cast("long").as("pos"),
        slice($"ws", $"start" + 1, lit(width)).as("seg_l"))
      .select($"doc_id", $"pos", concat_ws(" ", $"seg_l").as("seg"),
        size($"seg_l").as("n_words"))
      .withColumn("sh", md5($"seg"))
      .withColumn("kk", $"doc_id" * 100000L + $"pos")
  }

  /** Per-segment-hash (count, canonical first key) table for
    * [[segments]] output, FILTERED to duplicated hashes (n > 1): unique
    * segments — the overwhelming majority of any real corpus — never
    * enter the join at all and pass through as a left-join miss, so the
    * joined relation scales with DUPLICATED text, not corpus size. */
  def segmentDups(segs: DataFrame): DataFrame = {
    val s = segs.sparkSession
    import s.implicits._
    segs.groupBy($"sh").agg(count(lit(1)).as("n"), min($"kk").as("first_k"))
      .filter($"n" > 1)
  }

  /** [[segments]] with a `keep` flag: a segment survives when its text
    * is corpus-unique (no row in [[segmentDups]]) or it is the
    * canonical first occurrence. */
  def segmentsWithKeep(segs: DataFrame): DataFrame = {
    val s = segs.sparkSession
    import s.implicits._
    segs.join(segmentDups(segs), Seq("sh"), "left_outer")
      .withColumn("keep", $"n".isNull || $"kk" === $"first_k")
  }

  val d09LineDedup: Q = Q(
    "d09_line_dedup",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |segs AS (
      |  SELECT doc_id, start // 10 AS pos,
      |    array_to_string(list_slice(ws, start + 1, start + 10), ' ')
      |      AS seg
      |  FROM (SELECT doc_id, ws,
      |          unnest(range(0, greatest(len(ws), 1), 10)) AS start
      |        FROM d)),
      |k AS (SELECT doc_id, pos, seg, md5(seg) AS sh,
      |        doc_id * 100000 + pos AS kk
      |      FROM segs),
      |c AS (SELECT sh, count(*) AS n, min(kk) AS first_k
      |      FROM k GROUP BY sh)
      |SELECT k.doc_id,
      |  CAST(sum(CASE WHEN c.n = 1 OR k.kk = c.first_k
      |                THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
      |  CAST(sum(CASE WHEN c.n = 1 OR k.kk = c.first_k
      |                THEN 0 ELSE 1 END) AS BIGINT) AS dropped_segs,
      |  md5(coalesce(string_agg(
      |    CASE WHEN c.n = 1 OR k.kk = c.first_k THEN k.seg END,
      |    ' ' ORDER BY k.pos), '')) AS clean_hash
      |FROM k JOIN c USING (sh)
      |GROUP BY k.doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    segmentsWithKeep(segments(Tables.documents(s, d)))
      .groupBy($"doc_id")
      .agg(
        sum(when($"keep", 1L).otherwise(0L)).as("kept_segs"),
        sum(when($"keep", 0L).otherwise(1L)).as("dropped_segs"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(when($"keep",
              struct($"pos", $"seg")))),
            x => x.getField("seg")))).as("clean_hash"))
  }

  /** d10: MinHash near-dup pairs with the Jaccard ESTIMATED from the
    * signatures themselves (matching positions / 64) instead of d03's
    * exact shingle-set verification join — the configuration a 100 TB
    * run actually ships: candidate generation and scoring both touch
    * only the 64-long signature (512 B/doc), never the shingle sets,
    * so the verification cost per candidate is O(numHashes), not
    * O(|doc|), and the raw text never enters the pair stage at all.
    * d03 (exact gate) remains the ground truth; DedupSpec measures the
    * estimate against it.
    *
    * Oracle-exact: the portable md5 Kirsch-Mitzenmacher family means
    * DuckDB recomputes identical signatures; the estimate is an integer
    * match count over a /64 dyadic fraction (finite decimal at 6
    * places), so even the rounded estimate hashes identically. */
  val d10MinhashEstimate: Q = Q(
    "d10_minhash_estimate",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |       FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |hs AS (SELECT doc_id,
      |         ('0x' || substr(md5(g), 1, 8))::BIGINT % 2147483647 AS lo,
      |         ('0x' || substr(md5(g), 9, 8))::BIGINT % 2147483647 AS hi
      |       FROM sh),
      |mins AS (SELECT doc_id, i, min((lo + i * hi) % 2147483647) AS mh
      |         FROM hs, LATERAL (SELECT unnest(range(0, 64)) AS i) ii
      |         GROUP BY doc_id, i),
      |bandhash AS (SELECT doc_id, i // 4 AS band,
      |               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bh
      |             FROM mins GROUP BY doc_id, i // 4),
      |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |          FROM bandhash x JOIN bandhash y
      |            ON x.band = y.band AND x.bh = y.bh
      |              AND x.doc_id < y.doc_id),
      |est AS (SELECT c.doc_a, c.doc_b,
      |          count(*) FILTER (WHERE a.mh = b.mh) AS matches
      |        FROM cands c
      |        JOIN mins a ON a.doc_id = c.doc_a
      |        JOIN mins b ON b.doc_id = c.doc_b AND a.i = b.i
      |        GROUP BY c.doc_a, c.doc_b)
      |SELECT doc_a, doc_b, CAST(matches AS INT) AS matches,
      |  round(matches / 64.0, 6) AS est_jaccard
      |FROM est WHERE 2 * matches >= 64""".stripMargin) { (s, d) =>
    import s.implicits._
    val sigs = minhashSigs(s, d, numHashes = 64)
    val cands = bandCandidates(sigs, bands = 16, r = 4)
    cands
      .join(sigs.select($"doc_id".as("doc_a"), $"sig".as("sig_a")), "doc_a")
      .join(sigs.select($"doc_id".as("doc_b"), $"sig".as("sig_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        aggregate(zip_with($"sig_a", $"sig_b",
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .as("matches"))
      .filter(lit(2) * $"matches" >= 64)
      .select($"doc_a", $"doc_b", $"matches".cast("int").as("matches"),
        round($"matches" / 64.0, 6).as("est_jaccard"))
  }

  /** d11: CROSS-DOCUMENT repeated-span detection — the exact-substring
    * dedup use case (in the literature served by corpus-wide suffix
    * arrays) re-expressed at bounded cost: every 8-token span is
    * fingerprinted (md5 of the joined tokens — engine-portable, so the
    * oracle recomputes identical fingerprints), a deterministic hash
    * winnow keeps 1/8 of span space (first two hex chars < '20'), and
    * one aggregate on the fingerprint reports spans occurring in ≥ 2
    * distinct documents. Repeated spans longer than 8 tokens surface
    * as RUNS of consecutive flagged fingerprints (overlapping spans
    * share 7 tokens); [[d11bMergedSpans]] is that downstream
    * extension/merging pass, reporting whole spans per document.
    *
    * A suffix array gives exact longest-match extents but needs a
    * corpus-wide sorted structure no shuffle boundary can provide;
    * this form trades extent precision for ONE map-side-filtered
    * shuffle: the explode is ∝ corpus tokens, the winnow drops 7/8 of
    * rows BEFORE the exchange, and the aggregate is a plain hash
    * groupBy — linear at 100 TB, skew-free (md5 keys). Density and k
    * are the recall/cost dials (winnow misses a cross-doc span pair
    * only if every one of its overlapping 8-gram fingerprints falls
    * in the dropped 7/8 — for spans ≥ 8+7 tokens that is < 0.88^8). */
  val d11RepeatedSpans: Q = Q(
    "d11_repeated_spans",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |s AS (SELECT doc_id,
      |        md5(array_to_string(list_slice(ws, p + 1, p + 8), ' '))
      |          AS span_hash
      |      FROM (SELECT doc_id, ws,
      |              unnest(range(0, len(ws) - 7)) AS p
      |            FROM d)),
      |w AS (SELECT * FROM s WHERE substr(span_hash, 1, 2) < '20')
      |SELECT span_hash,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_occ,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM w GROUP BY span_hash
      |HAVING count(DISTINCT doc_id) >= 2""".stripMargin) { (s, d) =>
    import s.implicits._
    // ONE fingerprint definition for the whole d11 family: this is
    // [[spanFingerprints]] + the winnow; Catalyst prunes the unused
    // position column, so the plan is unchanged vs the old inline copy
    spanFingerprints(s, d)
      .filter(substring($"span_hash", 1, 2) < "20")
      .groupBy($"span_hash")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .filter($"n_docs" >= 2)
  }

  /** Per-doc 8-gram fingerprint stream at FULL density: one row per
    * span position `(doc_id, p, span_hash)`. Shared by d11b and the
    * ScaleStress exact-truth measurement. */
  def spanFingerprints(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("ws"))
      .filter(size($"ws") >= 8)
      .select($"doc_id", $"ws",
        explode(sequence(lit(0), size($"ws") - 8)).as("p"))
      .select($"doc_id", $"p".cast("long").as("p"),
        md5(concat_ws(" ", slice($"ws", $"p" + 1, lit(8))))
          .as("span_hash"))
  }

  /** Merge consecutive repeated fingerprint positions into SPANS:
    * classic gaps-and-islands (lag → break flag → running island id →
    * per-island min/max), one window per doc partition. `span_len` is
    * in tokens: a run of g consecutive 8-gram positions covers
    * g + 7 tokens. */
  def mergeSpans(flagged: DataFrame): DataFrame = {
    val s = flagged.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"p")
    flagged
      .withColumn("brk",
        when($"p" - lag($"p", 1).over(w) === 1, 0L).otherwise(1L))
      .withColumn("isl", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"isl")
      .agg(min($"p").as("span_start"),
        (max($"p") - min($"p") + 8).as("span_len"),
        count(lit(1)).as("n_grams"))
      .select($"doc_id", $"span_start", $"span_len", $"n_grams")
  }

  /** d11b: the span EXTENSION/MERGING pass downstream of d11 — reports
    * cross-document repeated SPANS `(doc_id, span_start, span_len ≥ 8
    * tokens, n_grams)` instead of raw winnowed 8-gram hits.
    *
    * Production funnel, two phases:
    *   1. SCREEN (d11's shape): the winnowed aggregate flags repeated
    *      hashes at 1/8 density; any document holding one becomes a
    *      flagged doc. At 100 TB this is the cheap corpus-wide pass —
    *      its single exchange carries 1/8 of span space.
    *   2. MERGE (this query): ONLY flagged documents are re-scanned at
    *      full fingerprint density (input ∝ duplicated text, the d09
    *      scale story), repetition is re-counted exactly over that
    *      subset, and consecutive repeated positions fold into islands
    *      with one per-doc window — no corpus-wide suffix structure.
    *
    * The winnow can only lose whole DOCUMENTS (a cross-doc span pair
    * none of whose overlapping fingerprints survives the 1/8 screen —
    * < 0.88^g for g overlapping grams); within a flagged doc, extents
    * are exact because the merge phase is unwinnowed. ScaleStress
    * measures span recall vs the no-screen exact truth at 10×. */
  val d11bMergedSpans: Q = Q(
    "d11b_merged_spans",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |s AS (SELECT doc_id, p,
      |        md5(array_to_string(list_slice(ws, p + 1, p + 8), ' '))
      |          AS span_hash
      |      FROM (SELECT doc_id, ws,
      |              unnest(range(0, len(ws) - 7)) AS p
      |            FROM d)),
      |wr AS (SELECT span_hash FROM s WHERE substr(span_hash, 1, 2) < '20'
      |       GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2),
      |fd AS (SELECT DISTINCT doc_id FROM s
      |       WHERE span_hash IN (SELECT span_hash FROM wr)),
      |sf AS (SELECT * FROM s WHERE doc_id IN (SELECT doc_id FROM fd)),
      |rf AS (SELECT span_hash FROM sf
      |       GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2),
      |fp AS (SELECT doc_id, p FROM sf
      |       WHERE span_hash IN (SELECT span_hash FROM rf)),
      |brks AS (SELECT doc_id, p,
      |           CASE WHEN p - lag(p) OVER
      |                  (PARTITION BY doc_id ORDER BY p) = 1
      |                THEN 0 ELSE 1 END AS brk
      |         FROM fp),
      |isl AS (SELECT doc_id, p,
      |          sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
      |        FROM brks)
      |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
      |  CAST(max(p) - min(p) + 8 AS BIGINT) AS span_len,
      |  CAST(count(*) AS BIGINT) AS n_grams
      |FROM isl GROUP BY doc_id, isl_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // materialized ONCE: the fingerprint scan (split + explode + md5
    // over the whole corpus) feeds the winnow screen, the flagged-doc
    // set, AND the full-density re-scan — without this it re-runs ~4x
    // (at cluster scale: persist(DISK_ONLY))
    val spans = spanFingerprints(s, d).localCheckpoint()
    val winnowRep = spans
      .filter(substring($"span_hash", 1, 2) < "20")
      .groupBy($"span_hash")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"span_hash")
    val flaggedDocs = spans
      .join(winnowRep, Seq("span_hash"), "left_semi")
      .select($"doc_id").distinct()
    // flagged docs ∝ duplicated text — broadcast the doc-id set so the
    // full-density re-scan filters map-side, no extra exchange
    val spansFlagged = spans
      .join(broadcast(flaggedDocs), Seq("doc_id"), "left_semi")
    val repeatedFull = spansFlagged
      .groupBy($"span_hash")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"span_hash")
    mergeSpans(
      spansFlagged
        .join(repeatedFull, Seq("span_hash"), "left_semi")
        .select($"doc_id", $"p"))
  }

  val all: Seq[Q] = Seq(d01ExactDedup, d02NormalizedDedup, d03MinhashLsh,
    d04NgramJaccard, d05Simhash, d06DupClusters, d06bDupClustersLsh,
    d07SemanticDedup, d07bSemanticDedupFixed, d08IncrementalDedup,
    d09LineDedup,
    d10MinhashEstimate, d11RepeatedSpans, d11bMergedSpans,
    d12IncrementalNearDup, d13PrefixJaccard, d14CanonicalDocs,
    d15ContainmentJoin)
}
