package graft.operators

import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Data-quality audit: the pre-ingest gate a production pipeline runs
  * before letting a batch anywhere near training or reporting (the
  * reference's closest surface is its constraint DDL — NOT NULL /
  * PRIMARY KEY / FOREIGN KEY declared RELY NOVALIDATE, i.e. never
  * engine-enforced; this operator is the enforcement those constraints
  * defer to the pipeline).
  *
  * One output row per check, `n_violations = 0` meaning pass. Every
  * check is declarative and scale-independent:
  *   - null/absent key, domain and sign checks: map-side conditional
  *     sums over a pruned single-column scan;
  *   - primary-key uniqueness: one hash aggregate on the key;
  *   - referential integrity: a LEFT ANTI join fact→dimension (the
  *     dimension side broadcast when small, shuffle otherwise — never
  *     a driver-side collect);
  *   - cross-field ordering (ship-before-order): the fact–dim equi-join
  *     re-using the same shuffle key as the FK check.
  * The checks are independent Spark jobs off independent pruned scans;
  * at 100 TB, co-schedule them (they share scan caches) or fold the
  * single-table ones into one pass — kept separate here for clarity
  * since each is already minimal. */
object Audit {

  val dq01QualityAudit: Q = Q(
    "dq01_quality_audit",
    """SELECT 'orders_null_custkey' AS chk,
      |  CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
      |    AS n_violations
      |FROM orders
      |UNION ALL
      |SELECT 'orders_dup_orderkey',
      |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM (
      |  SELECT count(*) AS n FROM orders GROUP BY o_orderkey
      |  HAVING count(*) > 1)
      |UNION ALL
      |SELECT 'lineitem_orphan_orderkey',
      |  CAST(count(*) AS BIGINT) FROM lineitem
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_orderkey = l_orderkey)
      |UNION ALL
      |SELECT 'lineitem_discount_domain',
      |  CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
      |    AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'lineitem_nonpositive_qty',
      |  CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders_nonpositive_total',
      |  CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
      |FROM orders
      |UNION ALL
      |SELECT 'ship_before_order',
      |  CAST(count(*) AS BIGINT)
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate < o_orderdate""".stripMargin) { (s, d) =>
    import s.implicits._
    val orders = Tables.orders(s, d)
    val lineitem = Tables.lineitem(s, d)
    def check(name: String, n: org.apache.spark.sql.Column)(
        df: org.apache.spark.sql.DataFrame) =
      df.agg(n.cast("long").as("n_violations"))
        .select(lit(name).as("chk"), $"n_violations")
    val nullCust = check("orders_null_custkey",
      count(when($"o_custkey".isNull, 1)))(orders)
    val dupPk = check("orders_dup_orderkey",
      coalesce(sum($"n" - 1), lit(0)))(
      orders.groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
        .filter($"n" > 1))
    val orphan = check("lineitem_orphan_orderkey", count(lit(1)))(
      lineitem.join(orders, $"l_orderkey" === $"o_orderkey", "left_anti"))
    val discount = check("lineitem_discount_domain",
      count(when($"l_discount" < 0 || $"l_discount" > 1, 1)))(lineitem)
    val qty = check("lineitem_nonpositive_qty",
      count(when($"l_quantity" <= 0, 1)))(lineitem)
    val total = check("orders_nonpositive_total",
      count(when($"o_totalprice" <= 0, 1)))(orders)
    val shipOrder = check("ship_before_order", count(lit(1)))(
      lineitem.join(orders, $"l_orderkey" === $"o_orderkey")
        .filter($"l_shipdate" < $"o_orderdate"))
    Seq(nullCust, dupPk, orphan, discount, qty, total, shipOrder)
      .reduce(_ unionByName _)
  }

  /** dq02: per-source (domain-level) quality gate — the RefinedWeb/
    * Gopher-style aggregation filter that drops entire SOURCES, not
    * documents: a domain whose crawl is mostly duplicated or degenerate
    * text poisons training no matter how its individual pages score.
    *
    * Per source: exact-duplicate fraction (count minus distinct
    * md5(text) within the source), token totals and the short-doc
    * count, folded into a keep/drop verdict. One hash aggregate on
    * `source` — at 100 TB this is a single shuffle whose key count is
    * the domain count (millions, not billions), and every input metric
    * is map-side combinable (count, sum, HLL-free exact distinct via
    * a two-level (source, hash) pre-aggregate that itself combines).
    *
    * Every emitted column and every threshold compare is INTEGER
    * arithmetic (cross-multiplied rationals: dup_frac<=1/5 is tested as
    * 5*(n-distinct)<=n), so the verdict is exact cross-engine — no
    * float boundary can flip a flag. */
  val dq02SourceQuality: Q = Q(
    "dq02_source_quality",
    """WITH per_doc AS (
      |  SELECT source, md5(text) AS h,
      |    len(string_split(text, ' ')) AS n_toks
      |  FROM documents),
      |agg AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup,
      |    CAST(sum(n_toks) AS BIGINT) AS total_tokens,
      |    CAST(count(*) FILTER (WHERE n_toks < 30) AS BIGINT) AS n_short
      |  FROM per_doc GROUP BY source)
      |SELECT source, n_docs, n_dup, total_tokens, n_short,
      |  (5 * n_dup <= n_docs AND 10 * n_short <= 3 * n_docs
      |   AND total_tokens >= 15 * n_docs) AS keep
      |FROM agg""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"source", md5($"text").as("h"),
        size(split($"text", " ")).as("n_toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct($"h")).cast("long").as("n_dup"),
        sum($"n_toks").cast("long").as("total_tokens"),
        count(when($"n_toks" < 30, 1)).cast("long").as("n_short"))
      .select($"source", $"n_docs", $"n_dup", $"total_tokens", $"n_short",
        (lit(5) * $"n_dup" <= $"n_docs" &&
          lit(10) * $"n_short" <= lit(3) * $"n_docs" &&
          $"total_tokens" >= lit(15) * $"n_docs").as("keep"))
  }

  /** dq03: embedding-corpus audit — the vector-side gate dq01 is for
    * the relational side: NULL or wrong-dimension vectors crash batched
    * ANN kernels, non-finite components poison every distance they
    * touch, zero-norm vectors make cosine undefined, and duplicate ids
    * silently overweight their content in k-means/IVF training. One
    * pruned scan of the embeddings table (map-side higher-order checks,
    * no shuffle) plus one id-keyed aggregate for the uniqueness check;
    * all counts exact integers. */
  val dq03EmbeddingAudit: Q = Q(
    "dq03_embedding_audit",
    """SELECT 'null_embedding' AS chk,
      |  CAST(count(*) FILTER (WHERE embedding IS NULL) AS BIGINT)
      |    AS n_violations
      |FROM embeddings
      |UNION ALL
      |SELECT 'wrong_dim',
      |  CAST(count(*) FILTER (WHERE len(embedding) <> 64) AS BIGINT)
      |FROM embeddings
      |UNION ALL
      |SELECT 'non_finite',
      |  CAST(count(*) FILTER (WHERE list_sum([CASE WHEN isnan(x)
      |    OR isinf(x) THEN 1 ELSE 0 END FOR x IN embedding]) > 0)
      |    AS BIGINT)
      |FROM embeddings
      |UNION ALL
      |SELECT 'zero_norm',
      |  CAST(count(*) FILTER (WHERE list_sum(
      |    [x*x FOR x IN embedding::DOUBLE[]]) = 0) AS BIGINT)
      |FROM embeddings
      |UNION ALL
      |SELECT 'dup_vec_id',
      |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM (
      |  SELECT count(*) AS n FROM embeddings GROUP BY vec_id
      |  HAVING count(*) > 1)""".stripMargin) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    def check(name: String, n: org.apache.spark.sql.Column)(
        df: org.apache.spark.sql.DataFrame) =
      df.agg(n.cast("long").as("n_violations"))
        .select(lit(name).as("chk"), $"n_violations")
    val dv = transform($"embedding", x => x.cast("double"))
    Seq(
      check("null_embedding", count(when($"embedding".isNull, 1)))(emb),
      check("wrong_dim", count(when(size($"embedding") =!= 64, 1)))(emb),
      check("non_finite", count(when(
        exists(dv, x => isnan(x) || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity), 1)))(emb),
      check("zero_norm", count(when(
        aggregate(dv, lit(0.0), (acc, x) => acc + x * x) === 0.0, 1)))(emb),
      check("dup_vec_id", coalesce(sum($"n" - 1), lit(0)))(
        emb.groupBy($"vec_id").agg(count(lit(1)).as("n")).filter($"n" > 1))
    ).reduce(_ unionByName _)
  }

  /** dq04: corpus DRIFT audit — population-stability-index (PSI)
    * contributions between two corpus snapshots, per feature bucket.
    * The production question this answers: did the ingest mix shift
    * enough (new crawl, source outage, filter change) that downstream
    * sampling rates and quality gates need re-tuning? PSI is the
    * standard monitoring statistic: Σ_buckets (pA−pB)·ln(pA/pB),
    * with each term ≥ 0 and the sum ~0 for identical mixes.
    *
    * Snapshots here are the even/odd-numbered sources (a deterministic
    * fixture proxy for "last week's corpus vs this week's"); features
    * are the language mix and the banded length/token-count
    * distributions. Laplace-smoothed (+1 per observed bucket) so an
    * empty bucket on one side contributes a finite term.
    *
    * Exactness across engines rides p08's trick: each bucket's
    * contribution is floor-quantized to integer MILLI-nats and summed
    * as BIGINT downstream — order-independent, so Spark and the DuckDB
    * oracle agree bit-for-bit regardless of aggregation order (the one
    * float op per bucket is the same single-expression ln both engines
    * evaluate on identical rationals).
    *
    * 100 TB shape: one map-only 3-way feature explosion, ONE hash
    * aggregate on (feature, bucket) with conditional sums (no second
    * scan for the B side), then per-feature totals over the ~25-row
    * aggregate broadcast back — the contribution projection is
    * map-only on 25 rows. */
  val dq04DriftAudit: Q = Q(
    "dq04_drift_audit",
    """WITH d AS (
      |  SELECT CAST(substr(source, 4) AS INT) % 2 = 0 AS in_a,
      |    lang, n_chars, len(string_split(text, ' ')) AS n_toks
      |  FROM documents),
      |f AS (
      |  SELECT in_a, 'lang' AS feature, lang AS bucket FROM d
      |  UNION ALL
      |  SELECT in_a, 'len_band',
      |    CAST(least(n_chars // 500, 10) AS VARCHAR) FROM d
      |  UNION ALL
      |  SELECT in_a, 'tok_band',
      |    CAST(least(n_toks // 50, 10) AS VARCHAR) FROM d),
      |c AS (
      |  SELECT feature, bucket,
      |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
      |    CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      |  FROM f GROUP BY 1, 2),
      |t AS (
      |  SELECT *, sum(c_a) OVER (PARTITION BY feature) AS n_a,
      |    sum(c_b) OVER (PARTITION BY feature) AS n_b,
      |    count(*) OVER (PARTITION BY feature) AS k
      |  FROM c)
      |SELECT feature, bucket, c_a, c_b,
      |  CAST(floor(1000.0 *
      |      ((c_a + 1.0) / (n_a + k) - (c_b + 1.0) / (n_b + k)) *
      |      ln(((c_a + 1.0) / (n_a + k)) / ((c_b + 1.0) / (n_b + k))))
      |    AS BIGINT) AS contrib_milli
      |FROM t""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select((substring($"source", 4, 10).cast("int") % 2 === 0)
          .as("in_a"),
        $"lang", $"n_chars",
        size(split($"text", " ")).as("n_toks"))
    val feats = docs.select($"in_a", explode(array(
        struct(lit("lang").as("feature"), $"lang".as("bucket")),
        struct(lit("len_band").as("feature"),
          least(floor($"n_chars" / 500), lit(10)).cast("string")
            .as("bucket")),
        struct(lit("tok_band").as("feature"),
          least(floor($"n_toks" / 50), lit(10)).cast("string")
            .as("bucket")))).as("fb"))
      .select($"in_a", $"fb.feature", $"fb.bucket")
    val counts = feats.groupBy($"feature", $"bucket")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("c_a"),
        sum(when(!$"in_a", 1L).otherwise(0L)).as("c_b"))
      .localCheckpoint() // ~25 rows; totals + projection both read it
    val totals = counts.groupBy($"feature")
      .agg(sum($"c_a").as("n_a"), sum($"c_b").as("n_b"),
        count(lit(1)).as("k"))
    val pA = ($"c_a" + 1.0) / ($"n_a" + $"k")
    val pB = ($"c_b" + 1.0) / ($"n_b" + $"k")
    counts.join(broadcast(totals), "feature")
      .select($"feature", $"bucket", $"c_a", $"c_b",
        floor(lit(1000.0) * (pA - pB) * log(pA / pB)).cast("long")
          .as("contrib_milli"))
  }

  /** dq05: SPLIT-LEAKAGE audit — near-duplicate pairs that cross the
    * train/val/test boundary, the contamination a trainer must catch
    * BEFORE training (a val/test doc with a train-side near-dup
    * inflates eval scores exactly like benchmark contamination, but
    * arises from the split itself). Composes two shipped operators
    * verbatim: p01's deterministic split device
    * ([[Splits.splitAssignment]] — auditing the EXACT assignment the
    * pipeline ships) and d03's LSH pair stage
    * ([[Dedup.minhashPairs]] — the scale-path candidate set, recall
    * bounded by the SCALE_r* artifact's measured floors). Output is the per-
    * direction leakage table — ordered split pair, pair count,
    * distinct contaminated docs ON EACH SIDE (for (train, val):
    * n_docs_b = val docs holding a train near-dup, the eval
    * contamination a trainer acts on), worst jaccard — the one-page
    * report a data audit publishes; the oracle chains both operators'
    * hash-verified CTEs, so the whole composition is
    * differential-tested.
    *
    * 100 TB shape: d03's banded self-join dominates (its own scale
    * story); the split columns are two map-side md5 prefixes joined
    * back to the pair table on doc ids — no new shuffle beyond the
    * pair aggregation. */
  val dq05SplitLeakage: Q = Q(
    "dq05_split_leakage",
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
      |          GROUP BY c.doc_a, c.doc_b),
      |pairs AS (SELECT doc_a, doc_b,
      |            round(CAST(inter AS DOUBLE) /
      |              (s1.n + s2.n - inter), 6) AS jaccard
      |          FROM inter p
      |          JOIN sizes s1 ON p.doc_a = s1.doc_id
      |          JOIN sizes s2 ON p.doc_b = s2.doc_id
      |          WHERE 2 * inter >= (s1.n + s2.n - inter)),
      |splits AS (SELECT doc_id,
      |             CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6'
      |                    THEN 'train'
      |                  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'f3'
      |                    THEN 'val'
      |                  ELSE 'test' END AS split
      |           FROM documents),
      |leaks AS (SELECT least(sa.split, sb.split) AS split_a,
      |            greatest(sa.split, sb.split) AS split_b,
      |            CASE WHEN sa.split <= sb.split THEN p.doc_a
      |                 ELSE p.doc_b END AS doc_in_a,
      |            CASE WHEN sa.split <= sb.split THEN p.doc_b
      |                 ELSE p.doc_a END AS doc_in_b,
      |            p.jaccard
      |          FROM pairs p
      |          JOIN splits sa ON p.doc_a = sa.doc_id
      |          JOIN splits sb ON p.doc_b = sb.doc_id
      |          WHERE sa.split <> sb.split)
      |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT doc_in_a) AS BIGINT) AS n_docs_a,
      |  CAST(count(DISTINCT doc_in_b) AS BIGINT) AS n_docs_b,
      |  max(jaccard) AS max_jaccard
      |FROM leaks GROUP BY split_a, split_b""".stripMargin) { (s, d) =>
    import s.implicits._
    val pairs = Dedup.minhashPairs(s, d, numHashes = 64, bands = 16)
      .select($"doc_a", $"doc_b", $"jaccard")
    val splits = Splits.splitAssignment(Tables.documents(s, d))
    pairs
      .join(splits.select($"doc_id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(splits.select($"doc_id".as("doc_b"), $"split".as("sb")), "doc_b")
      .filter($"sa" =!= $"sb")
      // PER-SIDE doc attribution: (doc_a, doc_b) is id order, which is
      // unrelated to which SPLIT each doc belongs to — counting
      // doc_b alone would measure neither side of the leak. Re-key
      // each pair's docs to the ordered (split_a, split_b) sides so
      // n_docs_a / n_docs_b are the distinct contaminated docs OF THAT
      // SPLIT (for (train, val): n_docs_b = val docs with a train
      // near-dup — the eval contamination a trainer acts on).
      .select(least($"sa", $"sb").as("split_a"),
        greatest($"sa", $"sb").as("split_b"),
        when($"sa" <= $"sb", $"doc_a").otherwise($"doc_b").as("doc_in_a"),
        when($"sa" <= $"sb", $"doc_b").otherwise($"doc_a").as("doc_in_b"),
        $"jaccard")
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"doc_in_a").as("n_docs_a"),
        countDistinct($"doc_in_b").as("n_docs_b"),
        max($"jaccard").as("max_jaccard"))
  }

  /** The ONE staleness-corruption recipe every index audit injects —
    * dq06/dq07's batch builders and st26/st27's per-commit gates all
    * corrupt the "current" corpus the same way (deletions at
    * `id % DelMod == DelRem`, content drift at `id % DriftMod ==
    * DriftRem`, not-yet-admitted copies at `id % CopyMod == CopyRem`
    * relabeled past CopyOffset), and each engine's DuckDB oracle
    * restates the recipe in SQL — so the moduli live HERE once and are
    * spliced into every builder and oracle string (the round-17 advice:
    * dq07 restating `% 11 = 5` as literals while st27 introduced
    * St27DelMod meant editing either site silently desynchronized the
    * two audits' recipes). CopyOffset clears every fixture's id range
    * (incl. sf10's 499,999 max), so a copy never collides with a real
    * id. */
  private[operators] val AuditDelMod = 11L
  private[operators] val AuditDelRem = 5L
  private[operators] val AuditDriftMod = 13L
  private[operators] val AuditDriftRem = 2L
  private[operators] val AuditCopyMod = 17L
  private[operators] val AuditCopyRem = 3L
  private[operators] val AuditCopyOffset = 100000000L

  /** The lexical-index audit's DuckDB CTE chain (`toks` → `drift`),
    * written once for dq06, st26 and st28 (the [[Similarity
    * .LexTopkCtes]] precedent): the df-capped index rebuilt over the
    * `indexed` relation (`postings`, `sizes`, `vocab`), the
    * frozen-vocabulary recount of the `current` relation, and dq06's
    * four violation counts `missing`, `orph_d`, `orph_p` and `drift`
    * ([[lexAuditChecks]]'s arithmetic). Both relations carry
    * (doc_id, text); each query defines them before the chain and
    * keeps its own final SELECT. */
  private[operators] def lexAuditCtes(indexed: String,
      current: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |          FROM $indexed),
      |sh AS (SELECT DISTINCT doc_id,
      |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |       FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |dfs AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
      |postings AS (SELECT s.doc_id, s.g FROM sh s JOIN dfs USING (g)
      |             WHERE df <= ${Similarity.S11LexDfCap}),
      |sizes AS (SELECT doc_id, count(*) AS n FROM postings GROUP BY doc_id),
      |vocab AS (SELECT DISTINCT g FROM postings),
      |ctoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $current),
      |csh AS (SELECT DISTINCT doc_id,
      |          t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |        FROM ctoks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |recount AS (SELECT c.doc_id, count(*) AS n2
      |            FROM csh c JOIN vocab USING (g) GROUP BY c.doc_id),
      |missing AS (SELECT count(*) AS n FROM recount r
      |            LEFT JOIN sizes s USING (doc_id) WHERE s.doc_id IS NULL),
      |orph_d AS (SELECT count(*) AS n FROM sizes s
      |           LEFT JOIN $current c USING (doc_id) WHERE c.doc_id IS NULL),
      |orph_p AS (SELECT count(*) AS n FROM postings p
      |           LEFT JOIN $current c USING (doc_id) WHERE c.doc_id IS NULL),
      |drift AS (SELECT count(*) AS n FROM sizes s
      |          JOIN recount r USING (doc_id) WHERE s.n <> r.n2)"""
      .stripMargin

  /** The audited "current" corpus in DuckDB SQL: `documents` after
    * the deletions and text drift of the shared recipe above, plus —
    * with `copies` — the relabeled additions awaiting admission (the
    * SQL twin of st26/st28's `movedCorpus`). */
  private[operators] def auditCurSql(copies: Boolean): String = {
    val kept =
      s"""SELECT doc_id,
        |  CASE WHEN doc_id % $AuditDriftMod = $AuditDriftRem
        |    THEN array_to_string((string_split(text, ' '))[1:20], ' ')
        |    ELSE text END AS text
        |FROM documents WHERE doc_id % $AuditDelMod <> $AuditDelRem"""
        .stripMargin
    if (!copies) kept
    else s"""$kept
      |UNION ALL
      |SELECT doc_id + $AuditCopyOffset, text FROM documents
      |WHERE doc_id % $AuditCopyMod = $AuditCopyRem""".stripMargin
  }

  /** dq06: STORED-INDEX CONSISTENCY audit — the integrity check a
    * deployment runs against a serving index BEFORE trusting it (the
    * table-format analogue is a manifest/file audit; here it is the
    * retrieval stack's: does the stored w12 lexical index still
    * describe the corpus it serves?). The audited index is genuinely
    * STALE by construction: it is built from a snapshot (doc_id % 7 ≠
    * 3 — reindex time), while the "current" corpus has since gained
    * those docs back, LOST others (doc_id % 11 = 5 deleted), and had
    * text DRIFT (doc_id % 13 = 2 truncated to its first 20 tokens) —
    * so every check fires on real violations instead of passing
    * vacuously. Checks, one row each (check_name, n_violations):
    *   - missing_docs: current docs with ≥1 in-vocabulary shingle but
    *     no stored size row — docs awaiting admission (st22's bill);
    *   - orphaned_docs / orphaned_postings: stored rows whose doc no
    *     longer exists — deleted docs still serveable (the silent
    *     wrong-answer class; postings counted separately because that
    *     is the serving-time blast radius);
    *   - size_drift: docs in both whose stored |d| differs from the
    *     frozen-vocabulary recount of their CURRENT text — edits since
    *     reindex that silently skew every Jaccard/BM25 length term.
    * The recount uses the INDEX's own vocabulary (distinct stored
    * shingles), not a recomputed cap — the audit must judge the index
    * by its own frozen contract, or cap drift would masquerade as doc
    * drift. The Spark side writes and READS BACK the real w12 layout;
    * the oracle rebuilds the same snapshot index in SQL and proves the
    * audit arithmetic.
    *
    * 100 TB: one tokenize of the current corpus + joins keyed on g
    * (vocabulary, cap-bounded df per shingle) and doc_id (anti joins;
    * both sides shuffle on the key, no driver collect); the violation
    * counts are map-side sums after the anti joins. Same bill class as
    * one reindex pass — an audit that cost more than the rebuild it
    * guards would never run. */
  val dq06IndexAudit: Q = Q(
    "dq06_index_audit",
    s"""WITH snap AS (SELECT doc_id, text FROM documents
      |              WHERE doc_id % 7 <> 3),
      |cur AS (${auditCurSql(copies = false)}),
      |${lexAuditCtes("snap", "cur")}
      |SELECT 'missing_docs' AS check_name, CAST(n AS BIGINT) AS n_violations
      |FROM missing
      |UNION ALL SELECT 'orphaned_docs', CAST(n AS BIGINT) FROM orph_d
      |UNION ALL SELECT 'orphaned_postings', CAST(n AS BIGINT) FROM orph_p
      |UNION ALL SELECT 'size_drift', CAST(n AS BIGINT) FROM drift"""
      .stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    // REINDEX-time snapshot -> the real stored layout, read back
    val idx = graft.sources.Writers.scratchDir("dq06", d)
    graft.sources.Writers.freshScratch(s, idx)
    // snapshot once: the writer's two legs both consume the capped
    // postings (the w12 lloyd() precedent — un-checkpointed, the sizes
    // leg re-ran the whole tokenize + corpus-wide df aggregate)
    val (p0, sz0) = Similarity.lexIndexSnap(docs.filter($"doc_id" % 7 =!= 3))
    graft.sources.Writers.writeLexIndexV2(p0, sz0, idx, Similarity.LexBuckets)
    val (pr, szr) = graft.sources.Writers.readLexIndex(s, idx)
    // the corpus as it stands NOW: additions, deletions, text drift
    val cur = docs.filter($"doc_id" % AuditDelMod =!= AuditDelRem)
      .select($"doc_id",
        when($"doc_id" % AuditDriftMod === AuditDriftRem,
          substring_index($"text", " ", 20))
          .otherwise($"text").as("text"))
    lexAuditChecks(cur, pr, szr)
  }

  /** dq06's four checks over an arbitrary (current-corpus, stored
    * postings, stored sizes) triple — factored out (round-15 verdict
    * ask #2) so the `index_fsck` SQL TVF can point them at ANY stored
    * w12-layout index + corpus view, exactly like [[ivfAuditChecks]]
    * on the vector side. `cur` carries (doc_id, text); the recount
    * uses the INDEX's own vocabulary (distinct stored shingles), never
    * a recomputed cap — the audit judges the index by its frozen
    * contract. */
  private[graft] def lexAuditChecks(cur: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame,
      sizes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = cur.sparkSession
    import s.implicits._
    val vocab = postings.select($"g").distinct()
    val recount = Dedup.spread(cur)
      .select($"doc_id", explode(Dedup.shingleSet($"text")).as("g"))
      .join(vocab, "g")
      .groupBy($"doc_id").agg(count(lit(1)).as("n2"))
    // ONE doc-granularity resolution pass feeds three of the four
    // checks (guide §1.2/§2.4 — the union-of-aggregates form ran
    // `recount`, a full tokenize of the current corpus, TWICE and
    // scanned `sizes` three times; the per-commit streaming gates
    // st26/st28 pay this plan every commit). Row semantics per check
    // are unchanged:
    //   missing_docs  = recount anti-join sizes  = n2 set-minus n
    //   orphaned_docs = sizes anti-join curIds   = n without present
    //   size_drift    = sizes join recount, n<>n2
    // sizes.n and recount.n2 are count(*) aggregates (never null), so
    // null-ness identifies which side a full-outer row came from.
    val curIds = cur.select($"doc_id", lit(1).as("present"))
    val docChecks = sizes
      .join(recount, Seq("doc_id"), "full_outer")
      .join(curIds, Seq("doc_id"), "left")
      .agg(
        count(when($"n".isNull && $"n2".isNotNull, 1)).cast("long")
          .as("missing_docs"),
        count(when($"n".isNotNull && $"present".isNull, 1)).cast("long")
          .as("orphaned_docs"),
        count(when($"n".isNotNull && $"n2".isNotNull && $"n" =!= $"n2", 1))
          .cast("long").as("size_drift"))
    // posting granularity (the serving-time blast radius) keeps its
    // own bounded pass
    val orphP = postings
      .join(cur.select($"doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("orphaned_postings"))
    docChecks.crossJoin(orphP)
      .select(explode(array(
        struct(lit("missing_docs").as("check_name"),
          $"missing_docs".as("n_violations")),
        struct(lit("orphaned_docs").as("check_name"),
          $"orphaned_docs".as("n_violations")),
        struct(lit("orphaned_postings").as("check_name"),
          $"orphaned_postings".as("n_violations")),
        struct(lit("size_drift").as("check_name"),
          $"size_drift".as("n_violations")))).as("c"))
      .select($"c.check_name", $"c.n_violations")
  }

  /** The v2-LAYOUT bucket-integrity check `index_fsck` appends when
    * the audited lexical index is stamped `_graft_layout=2` (round-17
    * verdict ask #1's audit leg): posting rows whose directory bucket
    * `gb` disagrees with the recomputed `pmod(hash(g), B)` — a file
    * landed in (or moved to) the wrong bucket dir. This is the
    * v2-specific silent-wrong-answer class: a pruned serve reads only
    * the query shingles' OWN buckets, so a misbucketed posting is
    * invisible to every query that should have scored it (and its df
    * splits across buckets). One bounded pass over the postings —
    * the same bill class as dq06's orphaned_postings scan. */
  private[graft] def lexBucketCheck(s: org.apache.spark.sql.SparkSession,
      dir: String, buckets: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    s.read.parquet(s"$dir/postings")
      .filter(pmod(hash($"g"), lit(buckets)) =!= $"gb")
      .agg(count(lit(1)).cast("long").as("n_violations"))
      .withColumn("check_name", lit("misbucketed_postings"))
      .select($"check_name", $"n_violations")
  }

  /** The full lexical-index audit over a stored index DIR: read the
    * artifact back, run [[lexAuditChecks]]'s four checks against the
    * given current corpus, and append [[lexBucketCheck]] when the dir
    * is stamped `_graft_layout=2` — the layout the stamp declares is
    * audited, not assumed. Every lexical writer but one stamps its
    * index, so the unstamped full-read path serves st22's
    * probe-routed chain only (`Writers.writeLexIndexLeg`), which has
    * no buckets to check. ONE definition of "which checks does this
    * layout get", shared by the `index_fsck` TVF, st28's per-commit
    * streaming gate, and the engagement probes (the St26/Dq08
    * shared-constant anti-drift discipline applied to DISPATCH: a consumer
    * restating the stamp match could silently skip the v2 check). */
  private[graft] def lexIndexAuditChecks(
      s: org.apache.spark.sql.SparkSession, dir: String,
      cur: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (postings, sizes) = graft.sources.Writers.readLexIndex(s, dir)
    val base = lexAuditChecks(cur, postings, sizes)
    graft.sources.Writers.lexLayoutOf(s, dir) match {
      case Some(b) => base.unionByName(lexBucketCheck(s, dir, b))
      case None => base
    }
  }

  /** dq07: STORED IVF-INDEX CONSISTENCY audit — dq06's vector twin
    * (round-14 verdict ask #3), closing the audit asymmetry: the
    * lexical serving index had an integrity gate, the IVF index
    * (w07 / st23's layout) did not — orphaned vectors in cell lists
    * and post-admission embedding drift would serve silently wrong.
    * The audited index is STALE by construction, so every check fires
    * on real violations: it is built from a snapshot (vec_id % 7 ≠ 3
    * — reindex time) under a quantizer frozen over that snapshot,
    * while the "current" corpus has since re-gained those vectors,
    * LOST others (vec_id % 11 = 5 deleted), and had embeddings DRIFT
    * (vec_id % 13 = 2 re-embedded — modeled as negation, which is
    * exact in IEEE on both engines and guarantees the nearest-centroid
    * argmax moves). Checks, one row each (check_name, n_violations):
    *   - missing_vecs: current vectors with no stored list row —
    *     vectors awaiting admission (st23's bill);
    *   - orphaned_vecs: list rows whose vector no longer exists —
    *     deleted vectors still probe-servable (the silent wrong-answer
    *     class; lists are one row per vector, so there is no separate
    *     postings-blast-radius count like dq06's);
    *   - assignment_drift: vectors in both whose stored cell differs
    *     from the nearest-FROZEN-centroid recompute over their CURRENT
    *     embedding — every probe that trusts the stale cell reads the
    *     wrong list partition. The recompute uses the index's OWN
    *     stored centroids (read back), never a retrained set — the
    *     audit judges the index by its frozen contract (dq06's
    *     vocabulary discipline on the vector side).
    * The Spark side writes and READS BACK the real cell-partitioned
    * layout ([[graft.sources.Writers.writeIvfIndex]]); the oracle
    * rebuilds the same snapshot index in SQL — the centroid rule is
    * [[Similarity.centModulus]] over the SNAPSHOT count (the corpus
    * that existed at reindex), the same one-arithmetic-rule-two-
    * engines discipline as s04.
    *
    * 100 TB: one broadcast-centroid assignment pass over the current
    * corpus (the recompute — same bill as one reindex assignment
    * stage) + vec_id-keyed anti joins; violation counts are map-side
    * sums, no driver collect. The snapshot count job is once per
    * audit run, not per query build. */
  val dq07IvfAudit: Q = Q(
    "dq07_ivf_audit",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
      |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |    AS nrm FROM embeddings),
      |snap AS (SELECT vec_id, vec, nrm FROM e WHERE vec_id % 7 <> 3),
      |cen AS (SELECT vec_id AS c_id, vec AS c_vec, nrm AS c_nrm
      |        FROM snap WHERE vec_id %
      |          (SELECT greatest(100, CAST(floor(count(*) / 200.0)
      |             AS BIGINT)) FROM snap) = 7),
      |assigned AS (
      |  SELECT vec_id, c_id FROM (
      |    SELECT s.vec_id, c.c_id,
      |      row_number() OVER (PARTITION BY s.vec_id
      |        ORDER BY list_dot_product(s.vec, c.c_vec) /
      |          (s.nrm * c.c_nrm) DESC, c.c_id) AS crk
      |    FROM snap s CROSS JOIN cen c)
      |  WHERE crk = 1),
      |cur AS (SELECT vec_id,
      |          CASE WHEN vec_id % $AuditDriftMod = $AuditDriftRem
      |            THEN list_transform(vec, x -> -x) ELSE vec END AS vec,
      |          nrm
      |        FROM e WHERE vec_id % $AuditDelMod <> $AuditDelRem),
      |recomputed AS (
      |  SELECT vec_id, c_id FROM (
      |    SELECT u.vec_id, c.c_id,
      |      row_number() OVER (PARTITION BY u.vec_id
      |        ORDER BY list_dot_product(u.vec, c.c_vec) /
      |          (u.nrm * c.c_nrm) DESC, c.c_id) AS crk
      |    FROM cur u CROSS JOIN cen c)
      |  WHERE crk = 1),
      |missing AS (SELECT count(*) AS n FROM cur c
      |            LEFT JOIN assigned a USING (vec_id)
      |            WHERE a.vec_id IS NULL),
      |orph AS (SELECT count(*) AS n FROM assigned a
      |         LEFT JOIN cur c USING (vec_id) WHERE c.vec_id IS NULL),
      |drift AS (SELECT count(*) AS n FROM assigned a
      |          JOIN recomputed r USING (vec_id) WHERE a.c_id <> r.c_id)
      |SELECT 'missing_vecs' AS check_name, CAST(n AS BIGINT) AS n_violations
      |FROM missing
      |UNION ALL SELECT 'orphaned_vecs', CAST(n AS BIGINT) FROM orph
      |UNION ALL SELECT 'assignment_drift', CAST(n AS BIGINT) FROM drift"""
      .stripMargin) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    // REINDEX-time snapshot -> the real stored cell-partitioned layout,
    // read back (write-path parity with w07/st23)
    val snap = emb.filter($"vec_id" % 7 =!= 3)
    val snapMod = Similarity.centModulus(snap.count())
    val cents = snap.filter($"vec_id" % snapMod === 7)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"),
        $"nrm".as("c_nrm"))
    val idx = graft.sources.Writers.scratchDir("dq07", d)
    graft.sources.Writers.freshScratch(s, idx)
    graft.sources.Writers.writeIvfIndex(cents,
      Similarity.ivfAssignment(snap, cents), idx)
    val (rc, rl) = graft.sources.Writers.readIvfIndex(s, idx)
    val storedCents = rc.localCheckpoint()
    val lists = rl.localCheckpoint()
    // the corpus as it stands NOW: re-gained vectors, deletions, and
    // re-embedded (negated) vectors; nrm is unchanged by negation
    val cur = emb.filter($"vec_id" % AuditDelMod =!= AuditDelRem)
      .select($"vec_id",
        transform($"embedding",
          x => x * when($"vec_id" % AuditDriftMod === AuditDriftRem,
            lit(-1.0f))
            .otherwise(lit(1.0f))).as("embedding"),
        $"nrm")
    ivfAuditChecks(cur, lists, storedCents)
  }

  /** dq07's three checks over an arbitrary (current-corpus, stored
    * lists, stored centroids) triple — shared with AuditSpec's
    * negative path (a CLEAN index must audit to all-zeros; the
    * driver oracle only ever sees the staleness-injected positive
    * path). `cur` carries (vec_id, embedding, nrm). */
  private[graft] def ivfAuditChecks(cur: org.apache.spark.sql.DataFrame,
      lists: org.apache.spark.sql.DataFrame,
      storedCents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = cur.sparkSession
    import s.implicits._
    // ONE vec_id-granularity presence pass feeds both set checks
    // (guide §1.2/§2.4 — the union-of-aggregates form scanned `cur`
    // and `lists` once per anti-join on top of the drift join; the
    // per-commit gate st27 pays this plan every commit). Anti-join
    // counts are preserved exactly: an unmatched full-outer row counts
    // for the side it came from, and a matched key's duplicate rows
    // pair off just as the anti joins saw them.
    val presence = cur.select($"vec_id", lit(1).as("cur_p"))
      .join(lists.select($"vec_id", lit(1).as("list_p")),
        Seq("vec_id"), "full_outer")
      .agg(
        count(when($"list_p".isNull, 1)).cast("long").as("missing_vecs"),
        count(when($"cur_p".isNull, 1)).cast("long").as("orphaned_vecs"))
    val both = cur.join(lists.withColumnRenamed("c_id", "stored_c"),
      "vec_id")
    val recomputed = Similarity.ivfAssignment(both, storedCents)
    val drift = recomputed.filter($"c_id" =!= $"stored_c")
      .agg(count(lit(1)).cast("long").as("assignment_drift"))
    presence.crossJoin(drift)
      .select(explode(array(
        struct(lit("missing_vecs").as("check_name"),
          $"missing_vecs".as("n_violations")),
        struct(lit("orphaned_vecs").as("check_name"),
          $"orphaned_vecs".as("n_violations")),
        struct(lit("assignment_drift").as("check_name"),
          $"assignment_drift".as("n_violations")))).as("c"))
      .select($"c.check_name", $"c.n_violations")
  }

  /** dq08 chain/injection constants, spliced into BOTH the builder and
    * the oracle SQL from one definition (the dq06 df-cap lesson: a
    * constant repeated as a literal in only one engine's text drifts
    * silently). `private[operators]` because st25 reuses the SAME
    * corruption on its streamed chain — its oracle and builder must
    * splice these too, not restate them. */
  private[operators] val Dq08Cutoff = "1997-01-01"
  private[operators] val Dq08Horizon = "1997-07-01"
  private[operators] val Dq08DelMod = 5
  private[operators] val Dq08DelRem = 3
  private[operators] val Dq08MisBucket = 0

  /** dq08: TABLE-MANIFEST CONSISTENCY audit — the third leg of the
    * stored-artifact audit family (dq06 lexical index, dq07 IVF index,
    * dq08 the SCD2 version chain's manifests), and the check every
    * table format ships as `VERIFY`/`fsck`: do the chain's COMMIT
    * RECORDS still describe the data dirs on disk? The audited chain is
    * corrupted by construction, so every check fires on real
    * violations: the standard 3-version chain (v0 pre-cutoff base,
    * v1/v2 chronological merges — w10's construction) suffers
    *   (a) a CRASH-STRANDED COMMIT: v2's data landed but its manifest
    *       is gone (deleted — the exact state a writer crash between
    *       data write and manifest stamp leaves);
    *   (b) EXTERNAL RETENTION: v1's bucket dirs with bucket %
    *       [[Dq08DelMod]] = [[Dq08DelRem]] deleted outside the vacuum
    *       protocol (no horizon stamp, no manifest re-point);
    *   (c) MIS-ROUTED ROWS: bucket [[Dq08MisBucket]]'s v0 rows appended
    *       into the NEIGHBOR bucket's dir (a writer built at a different
    *       bucketing constant — the failure mode the layout stamp
    *       guards interactive reads against, here made visible to the
    *       audit's row-level check).
    * Checks, one row each (check_name, n_violations):
    *   - dangling_claims: latest-manifest entries whose claimed
    *     `v{ver}/bucket={b}` dir is MISSING — every as-of read that
    *     trusts the manifest fails on a vanished path;
    *   - stale_claims: entries whose claimed dir exists but a NEWER
    *     version dir holds the bucket — reads through this manifest
    *     silently serve out-of-date rows (the crash-stranded commit's
    *     blast radius on correctness);
    *   - unmanifested_buckets: buckets present in version dirs ABOVE
    *     the latest committed manifest — data invisible to manifest-
    *     first resolution until the listing top-up rescues it (the
    *     recovery debt the crash left);
    *   - misrouted_rows: rows physically under `bucket=b` whose
    *     `pmod(cust_key, Scd2Buckets)` ≠ b — partition-pruned reads
    *     never see them (rows lost without any path failing).
    * Every count is DATA-DERIVED (which buckets each batch touches is
    * set algebra over `orders`), so the DuckDB oracle recomputes all
    * four from the source table — the same one-arithmetic-two-engines
    * discipline as dq06/dq07 — while the Spark side computes them from
    * the REAL artifacts: actual manifests read back, actual dir
    * listings, one distributed parquet read for the row check.
    *
    * 100 TB: claims and disk state are ≤ Scd2Buckets entries per
    * version (driver-side broadcast-class, the scd2MergeStep-collect
    * precedent); the audit deliberately pays the pure O(versions)
    * listing scan because it cannot resolve THROUGH the manifests it
    * audits — once per audit run, not per read. The row-level check is
    * one parallel scan of the chain's data files, the same bill as the
    * vacuum compaction read; violation counts are map-side sums. */
  val dq08ManifestAudit: Q = Q(
    "dq08_manifest_audit",
    s"""WITH pre AS (SELECT DISTINCT o_custkey % ${WriterQueries.Scd2Buckets}
      |      AS b FROM orders WHERE o_orderdate < '$Dq08Cutoff'),
      |t1 AS (SELECT DISTINCT o_custkey % ${WriterQueries.Scd2Buckets} AS b
      |       FROM orders WHERE o_orderdate >= '$Dq08Cutoff'
      |         AND o_orderdate < '$Dq08Horizon'),
      |t2 AS (SELECT DISTINCT o_custkey % ${WriterQueries.Scd2Buckets} AS b
      |       FROM orders WHERE o_orderdate >= '$Dq08Horizon'),
      |dangling AS (SELECT count(*) AS n FROM t1
      |             WHERE b % $Dq08DelMod = $Dq08DelRem),
      |stale AS (SELECT count(*) AS n FROM t2
      |          WHERE b IN (SELECT b FROM t1
      |                      WHERE b % $Dq08DelMod <> $Dq08DelRem)
      |             OR (b IN (SELECT b FROM pre)
      |                 AND b NOT IN (SELECT b FROM t1))),
      |unmani AS (SELECT count(*) AS n FROM t2),
      |misrouted AS (SELECT count(*) AS n FROM (
      |  SELECT DISTINCT o_custkey, o_orderdate FROM orders
      |  WHERE o_orderdate < '$Dq08Cutoff'
      |    AND o_custkey % ${WriterQueries.Scd2Buckets} = $Dq08MisBucket))
      |SELECT 'dangling_claims' AS check_name,
      |  CAST(n AS BIGINT) AS n_violations FROM dangling
      |UNION ALL SELECT 'misrouted_rows', CAST(n AS BIGINT) FROM misrouted
      |UNION ALL SELECT 'stale_claims', CAST(n AS BIGINT) FROM stale
      |UNION ALL SELECT 'unmanifested_buckets', CAST(n AS BIGINT)
      |FROM unmani""".stripMargin) { (s, d) =>
    val dest = graft.sources.Writers.scratchDir("dq08", d)
    graft.sources.Writers.freshScratch(s, dest)
    WriterQueries.scd2ThreeVersions(s, d, dest)
    val (fs, root) = graft.sources.Writers.fsOf(s, dest)
    // (a) crash-stranded commit: v2's manifest gone, its data intact
    fs.delete(new org.apache.hadoop.fs.Path(root,
      WriterQueries.scd2ManifestName(2L)), false)
    // (b) external retention: v1 bucket dirs deleted outside vacuum
    WriterQueries.scd2DiskBuckets(s, dest)
      .collect { case (b, 1L) if b % Dq08DelMod == Dq08DelRem => b }
      .foreach(b => fs.delete(new org.apache.hadoop.fs.Path(root,
        s"v1/bucket=$b"), true))
    // (c) mis-routed rows: the neighbor dir gets bucket 0's v0 state
    s.read.schema(WriterQueries.Scd2Schema)
      .parquet(s"$dest/v0/bucket=$Dq08MisBucket")
      .write.mode("append")
      .parquet(s"$dest/v0/bucket=${Dq08MisBucket + 1}")
    manifestAuditChecks(s, dest)
  }

  /** dq08's four checks over an arbitrary chain dir — shared with
    * AuditSpec's negative path (a CLEAN chain must audit to all-zeros;
    * the driver oracle only ever sees the corruption-injected positive
    * path). */
  private[graft] def manifestAuditChecks(s: org.apache.spark.sql.SparkSession,
      dimDir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (claimV, cmap) = WriterQueries.scd2LatestManifest(s, dimDir)
      .getOrElse((-1L, Map.empty[Int, Long]))
    val diskPairs = WriterQueries.scd2DiskBuckets(s, dimDir)
    // The three metadata checks run as DRIVER-SIDE set algebra (guide
    // §5): claims and disk state are already collected driver
    // structures of ≤ Scd2Buckets entries per version — the pre-r19
    // form round-tripped them through toDF + three anti/inner-join
    // aggregates, ~6 scheduled jobs per audit for a few hundred rows
    // (st25 pays this audit on every commit). Semantics per check are
    // unchanged: dangling = claims whose (b, v) dir is gone, stale =
    // claims whose dir exists but a newer version dir holds the
    // bucket, unmanifested = distinct buckets in dirs above the
    // latest committed manifest.
    val diskSet = diskPairs.toSet
    val diskLatest = diskPairs.groupBy(_._1)
      .map { case (b, vs) => b -> vs.map(_._2).max }
    val dangling = cmap.count { case (b, v) => !diskSet((b, v)) }
    val stale = cmap.count { case (b, v) =>
      diskSet((b, v)) && diskLatest(b) > v }
    val unmani = diskPairs.filter(_._2 > claimV).map(_._1).distinct.size
    // row-level check stays DISTRIBUTED: one read of every version dir
    // (the bucket partition column comes from directory discovery),
    // one filter+count job — the only Spark job the audit runs
    val bucketedSchema = org.apache.spark.sql.types.StructType(
      WriterQueries.Scd2Schema.fields :+
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType))
    val misrouted: Long = diskPairs.map(_._2).distinct.sorted
      .map(v => s.read.schema(bucketedSchema).parquet(s"$dimDir/v$v"))
      .reduceOption(_ unionByName _)
      .map(_.filter(pmod($"cust_key",
          lit(WriterQueries.Scd2Buckets.toLong)).cast("int") =!= $"bucket")
        .count())
      .getOrElse(0L)
    Seq(("dangling_claims", dangling.toLong),
      ("misrouted_rows", misrouted),
      ("stale_claims", stale.toLong),
      ("unmanifested_buckets", unmani.toLong))
      .toDF("check_name", "n_violations")
  }

  val all: Seq[Q] = Seq(dq01QualityAudit, dq02SourceQuality,
    dq03EmbeddingAudit, dq04DriftAudit, dq05SplitLeakage, dq06IndexAudit,
    dq07IvfAudit, dq08ManifestAudit)
}
