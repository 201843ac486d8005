package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextHash._

/** Text-analysis operators for LLM training-data pipelines (north star,
  * BASELINE.json): token frequency, token counting, language-ID heuristic,
  * quality scoring, and document fingerprinting — all over `documents`.
  *
  * Scale notes: every query is scan → narrow per-row expressions (or one
  * explode) → a single aggregation shuffle. Nothing is quadratic in corpus
  * size; per-doc work is linear in document length. All expressions are
  * Spark built-ins (codegen'd higher-order functions — no UDFs), so the
  * hot path stays inside WholeStageCodegen.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Memoized per-doc TOKEN COUNT layer (doc_id, source, token, c) — the
    * text family's inverted-index base relation. Eight vocab-aggregating
    * queries (tf-idf, keywords, vocab, hapax, stopwords, zipf, tokens,
    * drift) each re-ran the identical corpus tokenize + first
    * aggregation inside every timed execution; every one of their
    * downstream shapes is an aggregation OVER this relation, so it is
    * built once per (session, dir), served from the derived-artifact
    * family (IndexArtifacts.serveDerivedIncremental — fingerprint +
    * sidecar, the shingle-layer posture), and attributed as the `token_counts`
    * bench phase. At data scale this IS the maintained inverted index:
    * rows are (docs × distinct-tokens-per-doc), ~0.4× the raw token
    * stream, and consumers' shuffles shrink from token volume to vocab
    * volume. Tokens are RAW case (lowercase folds exactly through a
    * later aggregation — Unicode case mapping never touches U+0020,
    * so split-then-lower ≡ lower-then-split).
    */
  private val tokLayerMemo =
    new graft.api.SessionMemo[DataFrame](_.unpersist(blocking = false))

  private[graft] def releaseTokenLayer(s: SparkSession): Unit =
    tokLayerMemo.release(s)

  /** The token-count plan over any (doc_id, source, text) table — the
    * grouping keys include doc_id, so the layer is PER-DOC EXACT and the
    * manifest-incremental serve's append ≡ rebuild row-for-row. */
  private[graft] def tokenPlanOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "source", "token")
      .agg(count(lit(1)).as("c"))

  private[graft] def tokenLayer(s: SparkSession, d: String): DataFrame =
    tokLayerMemo.get(s, "", d) {
      // MANIFEST-INCREMENTAL (VERDICT r13 #6, the shingle_raw posture):
      // a grown docs dir re-tokenizes ONLY the new files and appends —
      // the whole-corpus explode+count, the text family's expensive
      // pass, never re-runs over already-indexed partitions. UNLIKE the
      // per-row shingle layer, this layer's groupBy MERGES counts across
      // files: a delta that RE-CONTAINS an already-indexed doc_id would
      // append a second (doc, source, token) row with a split count
      // where the full rebuild emits one merged row (r14 review) — the
      // acceptDelta guard therefore vetoes any delta whose doc_ids
      // intersect the artifact's (one id-only semi-join per append; the
      // daily-crawl contract is fresh ids, so the veto almost never
      // fires) and the serve falls back to an exact full rebuild.
      val slug = d.replaceAll("[^A-Za-z0-9]+", "_")
      val (df, src) = graft.api.IndexArtifacts.serveDerivedIncremental(
        s, s"g_drv_tokcounts_$slug", s"$d/documents.parquet",
        DedupQueries.derivedVersionTag + ":ws",
        tokenPlanOf(fanOut(documents(s, d))),
        paths => tokenPlanOf(fanOut(s.read.parquet(paths: _*))),
        acceptDelta = (art, delta) =>
          delta.select("doc_id").distinct()
            .join(art.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
            .isEmpty,
        // DECREMENTAL (VERDICT r16 #1): the grouping keys include doc_id,
        // so deleting docs deletes exactly their rows — a semi-join on
        // the surviving ids, no re-tokenize, and no demotion hazard
        // (this layer has no cross-row cap)
        buildShrink = art => Some(art.join(
          DedupQueries.survivingDocIds(s, d), Seq("doc_id"), "left_semi")),
        compactInvariant =
          DedupQueries.uniqueInvariant("doc_id", "source", "token"))
      DedupQueries.noteDerivedSource(s, "token_counts", src)
      val layer = df.cache()
      layer.count() // eager — the winnowPickSet rationale
      layer
    }

  /** q_text_vocab_overlap core over (source, token) rows (duplicates
    * tolerated — the leading distinct folds them): per unordered source
    * pair, vocab sizes, shared-vocab count, and the vocabulary Jaccard
    * in exact ppm-of-millionths.
    *
    * Shape at 100 TB: sv is ONE vocab-volume aggregation (the token
    * layer's rows are already distinct per doc); intersections come from
    * a token-keyed fold into a per-token SOURCE SET — bounded by the
    * SOURCE COUNT, a catalog constant, NEVER a vocab×vocab self-join —
    * exploded into ≤ C(S,2) unordered pairs per token (sort_array pins
    * a < b) and rolled up to a pairs-sized table; per-source vocab sizes
    * attach by broadcast. Zero-overlap pairs are absent by construction
    * (both engines — a token shared by nobody generates no pair row).
    * jaccard_e6 is exact Long: 10⁶·|∩| wraps only past ~9·10¹² shared
    * tokens — the DECIMAL(38) swap is shape-free if a corpus gets there.
    */
  private[graft] def vocabOverlap(svRaw: DataFrame): DataFrame = {
    val sv = svRaw.select("source", "token").distinct()
    val vs = sv.groupBy("source").agg(count(lit(1)).as("n"))
    sv.groupBy("token")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        "flatten(transform(ss, (a, i) -> " +
        "transform(slice(ss, i + 2, size(ss)), " +
        "b -> struct(a AS sa, b AS sb))))")).as("p"))
      .select(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(vs.select(col("source").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(vs.select(col("source").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        expr("n_shared * 1000000 DIV (n_a + n_b - n_shared)")
          .as("jaccard_e6"))
      .orderBy("source_a", "source_b")
  }

  /** q_text_clean knobs — C4-style line/document gates and PII patterns.
    * The regexes stay inside the RE2-compatible subset (character classes,
    * bounded repetition, no backrefs/lookaround) so Java regex (Spark) and
    * RE2 (DuckDB) agree on every match.
    */
  private[graft] val CleanMinLineTokens = 5
  private[graft] val CleanMinDocTokens = 15
  private[graft] val CleanBoilerplate = Seq(
    "javascript", "cookie", "lorem ipsum", "all rights reserved",
    "privacy policy", "terms of use")
  private[graft] val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val PhoneRe = "[0-9]{7,}"
  // formatted phones (the digit-run rule only catches unbroken runs):
  // two alternatives inside non-digit context anchors —
  //  * prefixed: optional +CC, REQUIRED area code (optionally
  //    parenthesized), then 3-4 split by space/dot/dash;
  //  * bare 7-digit local ("555-0123"): space/dash separator ONLY — a
  //    dotted 3-4 with no prefix is indistinguishable from a decimal
  //    ("123.4567"), so the dotted spelling requires the area code.
  // The (^|[^0-9.]) / ($|[^0-9.]|\.[^0-9]|\.$) context groups (RE2-safe —
  // no lookarounds) stop the bare form from firing inside longer numerics
  // ("2020-2024", "3.1234567") while still admitting sentence punctuation
  // after a phone ("call 555-0123." — the '.' alternatives fire only when
  // NOT followed by a digit, so "123.4567"-style decimals stay excluded);
  // the replacement restores the context via group refs ($1/$7 in Java,
  // \1/\7 in RE2 — leftmost-first alternation semantics agree between the
  // engines). Scrubbed BEFORE the digit-run pass. Known residual: two
  // phones separated by a single char share one context char, so the
  // second escapes this pass (its digit run still hits PhoneRe when
  // unbroken).
  private[graft] val PhoneFmtRe =
    "(^|[^0-9.])" +
      "((\\+?([0-9]{1,2}[ .-])?(\\([0-9]{3}\\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4})" +
      "|([0-9]{3}[- ][0-9]{4}))" +
      "($|[^0-9.]|\\.[^0-9]|\\.$)"
  private[graft] val PhoneFmtReplSpark = "$1<PHONE>$7"
  private[graft] val PhoneFmtReplDuck = "\\1<PHONE>\\7"
  // IPv4 literals; scrubbed before the phone passes so a dotted-quad's
  // octets can never seed a phone-format match spanning trailing digits
  private[graft] val IpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** THE scrub cascade (order is load-bearing: email → IP → formatted
    * phone → digit run), shared by [[clean]] and [[piiAudit]] so the
    * scrubber and its audit can never drift — the duckBandPairSql rule.
    * [[duckScrubSql]] is the one DuckDB spelling for the oracles.
    */
  private[graft] def scrubCol(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
          lit(IpRe), lit("<IP>")),
        lit(PhoneFmtRe), lit(PhoneFmtReplSpark)),
      lit(PhoneRe), lit("<PHONE>"))

  /** The identical cascade as a DuckDB SQL fragment over `inner` (a
    * column name or lambda variable). */
  private[graft] def duckScrubSql(inner: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |$inner, '$EmailRe', '<EMAIL>', 'g'),
       |'$IpRe', '<IP>', 'g'),
       |'$PhoneFmtRe', '$PhoneFmtReplDuck', 'g'),
       |'$PhoneRe', '<PHONE>', 'g')""".stripMargin

  /** (doc_id, h): 60-bit hashes of each doc's distinct 3-token shingles —
    * the MEMOIZED uncapped layer of the per-dir dedup shingle memo
    * (DedupQueries.uncappedShingleHashes). Uncapped is correct here: the
    * consumer joins against a DISTINCT benchmark shingle set, so per-row
    * join fan-out is ≤ 1 by construction — no hot-shingle quadratic risk
    * to cap away. Sharing the layer removes the second interpreted
    * shingle+md5 pass the round-5 bench paid on every contamination call
    * (4.5 s); eviction follows the memo's one-dir-per-layer-per-session
    * policy.
    */
  private def docShingleHashes(s: SparkSession, d: String): DataFrame =
    DedupQueries.uncappedShingleHashes(s, d)

  /** The q_text_quality blended score over `text`, integer-scaled —
    * shared by q_text_quality, q_sample_quality (acceptance rate), and
    * q_corpus_profile (per-source mean) so the arithmetic can never
    * drift between the scored operator and its consumers (each DuckDB
    * oracle restates it literally).
    */
  private[operators] def qualityE6Col: Column = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val nUniq = size(array_distinct(toks)).cast("double")
    val stopHits = size(filter(toks, t =>
      stopwords.foldLeft(lit(false))((acc, w) => acc || (t === lit(w)))))
      .cast("double")
    val avgTokLen =
      (length(col("text")).cast("double") - (nTok - 1)) / nTok
    val score =
      least(nTok / 400, lit(1.0)) * 0.25 +
      (nUniq / nTok) * 0.35 +
      (lit(1.0) - stopHits / nTok) * 0.2 +
      least(avgTokLen / 8, lit(1.0)) * 0.2
    floor(score * 1e6).cast("long")
  }

  /** Corpus-wide LINE dedup over a (doc_id, text) table (C4's
    * repeated-span rule at line granularity, the complement of [[clean]]'s
    * per-doc filters): scrub every occurrence of any line present in >= 2
    * DISTINCT docs — cross-doc repetition is boilerplate by definition
    * (headers, navigation, license blocks). Lines compare by xxhash64 —
    * a native 64-bit hash with no hex-string intermediate, ~an order of
    * magnitude cheaper than md5+conv. The hash is an INTERNAL
    * grouping/join key only, never output, so the oracle groups by the
    * raw line strings instead and the results agree modulo 64-bit
    * collisions (the q_text_bigram_surprisal precedent).
    *
    * Shape at 100 TB: explode to a line table, ONE hash-keyed aggregation
    * for the distinct-doc counts (partial aggregation shrinks
    * per-partition repeats), join back the small hot set (AQE broadcast /
    * skew-split — never a window over the line hash), reassemble per doc
    * with collect_list + array_sort (collect_list drops the nulls the hot
    * filter leaves). Linear, all shuffles keyed.
    */
  def dedupLines(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(col("line")))
    val hot = lines.groupBy("lh")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select(col("lh"), lit(1L).as("hot"))
    lines.join(hot, Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("hot").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(
            when(col("hot").isNull, struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
  }

  /** C4-style cleaning over a (doc_id, text) table: line-level
    * boilerplate filtering + PII scrubbing as a PURE per-row projection —
    * zero shuffles, so it composes in front of any dedup/pack stage at
    * 100 TB for free. Per line: scrub emails, IPv4 literals, formatted
    * phone numbers, and long digit runs to placeholder tokens, then drop
    * lines under [[CleanMinLineTokens]]
    * tokens or carrying a boilerplate marker (cookie/javascript/
    * lorem-ipsum/…, the C4 filter list's shape); per doc: keep only docs
    * with >= [[CleanMinDocTokens]] tokens left — everything below is
    * navigation/stub debris. The per-row engine is the fused native
    * [[graft.functions.C4Clean]] kernel (one compiled pass per document,
    * regex families gated on cheap byte probes); the q_text_clean DuckDB
    * oracle runs the identical rules via list_transform/list_filter, and
    * [[cleanHof]] keeps the original higher-order-function spelling as
    * the in-engine differential reference (C4CleanSpec pins kernel ≡ HOF
    * row-for-row).
    */
  def clean(docs: DataFrame): DataFrame = {
    import graft.functions.expressions.StringFunctions.{c4_clean_stats, c4_clean_tokens}
    // the doc gate is spelled on the COUNT-ONLY kernel twin and sits
    // below the projection, so what pushes to the scan never assembles
    // the cleaned text it would discard; the struct kernel then runs
    // exactly ONCE per surviving row — its alias stays in its own
    // project (CollapseProject leaves a non-cheap multi-referenced
    // alias alone). One count walk per scanned row + one full pass per
    // kept row, down from the HOF spelling's 2 × ~6 interpreted passes.
    // cleanTokens ≡ cleanStats.n_tokens_clean is spec-pinned, so the
    // gate admits exactly the rows whose projected n_tokens_clean
    // passes — the output filter column stays redundant-true.
    docs
      .filter(c4_clean_tokens(col("text")) >= CleanMinDocTokens)
      .select(col("doc_id"), c4_clean_stats(col("text")).as("__c"))
      .select(col("doc_id"),
        col("__c").getField("clean_text").as("clean_text"),
        col("__c").getField("n_lines").as("n_lines"),
        col("__c").getField("n_lines_kept").as("n_lines_kept"),
        col("__c").getField("n_tokens_clean").as("n_tokens_clean"))
  }

  /** The original HOF spelling of [[clean]] — kept as the differential
    * reference the C4CleanSpec property pin replays against the fused
    * kernel (bit-identical outputs required; the spec is the guard that
    * lets q_text_clean ride the kernel). Not on any query path.
    */
  private[graft] def cleanHof(docs: DataFrame): DataFrame = {
    val scrub = (l: Column) => scrubCol(l)
    val isBoiler = (l: Column) =>
      CleanBoilerplate.foldLeft(lit(false))(
        (acc, m) => acc || instr(lower(l), m) > 0)
    docs
      .select(col("doc_id"), split(col("text"), "\n").as("__lines"))
      .select(col("doc_id"), col("__lines"),
        filter(transform(col("__lines"), scrub),
          l => size(split(l, " ")) >= CleanMinLineTokens && !isBoiler(l))
          .as("__kept"))
      .select(col("doc_id"),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_lines_kept"),
        aggregate(col("__kept"), lit(0L),
          (acc, l) => acc + size(split(l, " "))).as("n_tokens_clean"))
      .filter(col("n_tokens_clean") >= CleanMinDocTokens)
  }

  /** PII audit over a (doc_id, text) table — the compliance-telemetry
    * twin of [[clean]]'s scrub: not "remove it" but "HOW MUCH does each
    * doc carry, by type" (the report a data-governance pass files before
    * a corpus ships). Runs the IDENTICAL regex cascade (email → IP →
    * formatted-phone → digit-run, same order-dependence rationale as
    * clean) over the whole text, then counts placeholders by split-arity
    * — portable to DuckDB verbatim, no occurrence-counting builtin
    * needed. The cascade is aliased into its own projection so the four
    * regexes run once per row, not once per counter (the clean()
    * precedent). Pure map-side projection; zero shuffles.
    */
  def piiAudit(docs: DataFrame): DataFrame = {
    val scrubbed = scrubCol(col("text"))
    val occ = (m: String) =>
      (size(split(col("__s"), java.util.regex.Pattern.quote(m), -1)) - 1)
        .cast("long")
    docs
      .select(col("doc_id"), scrubbed.as("__s"))
      .select(col("doc_id"),
        occ("<EMAIL>").as("n_emails"),
        occ("<IP>").as("n_ips"),
        occ("<PHONE>").as("n_phones"))
      .withColumn("pii_total",
        col("n_emails") + col("n_ips") + col("n_phones"))
  }

  /** q_text_bm25's fixed lexical query; the oracle SQL inlines the same
    * three literals. `dup` is rare in the fixture (high idf), the other
    * two are common — the ranking is non-degenerate. */
  private[graft] val Bm25Terms = Seq("dup", "spark", "vector")

  /** Okapi BM25 scoring core (public: Robertson & Walker, SIGIR'94; the
    * standard k1=1.2, b=0.75) for the fixed [[Bm25Terms]] query — the
    * lexical ranking a retrieval-augmented pipeline runs beside its dedup
    * stack. Exact integer parity: clearing denominators turns both
    * factors into Long ratios —
    *   idf_e6 = 1e6·(2N−2df+1) DIV (2df+1)    (log-free RSJ surrogate;
    *            production swaps ln with no shape change)
    *   tfn_e6 = 1e6·22·T·tf DIV (10·T·tf + 3·T + 9·dl·N)
    * with N = docs, T = corpus tokens, dl = doc tokens (k1, b cleared to
    * tenths: 22/10 = k1+1, 3 = 10·k1·(1−b), 9 = 10·k1·b); per-term score
    * = idf_e6·tfn_e6, doc score_e12 = Σ over matched terms — bit-exact
    * in both engines (DECIMAL(38) once 1e6·22·T·tf outgrows Long at real
    * corpus scale; same envelope note as the mix/tf·10⁶ parity rows).
    *
    * Shape at 100 TB: the query-term filter lands map-side on the token
    * fan-out, so tf is query-sized (≤ |terms|·N rows); dl is the one
    * corpus-scale aggregation; N and T attach as scalar subqueries (no
    * join node); df is |terms| rows → AQE broadcast; top-20 plans as
    * TakeOrderedAndProject, never a full sort.
    */
  /** [[bm25]]'s scoring expressions over (n, df, t, tf, dl) columns,
    * factored so PropertySpec can drive crafted corpus statistics at the
    * Long envelope edge through the EXACT production arithmetic. */
  private[graft] val IdfE6Expr =
    "CAST((CAST(1000000 AS DECIMAL(38,0)) * (2*n - 2*df + 1))" +
      " DIV (2*df + 1) AS BIGINT)"
  private[graft] val TfnE6Expr =
    "CAST((CAST(1000000 AS DECIMAL(38,0)) * 22 * t * tf) DIV " +
      "(CAST(10 AS DECIMAL(38,0))*t*tf + CAST(3 AS DECIMAL(38,0))*t + " +
      "CAST(9 AS DECIMAL(38,0))*dl*n) AS BIGINT)"
  private[graft] val ScoreTermExpr = "CAST(idf_e6 AS DECIMAL(38,0)) * tfn_e6"

  /** The BM25 scoring CTE chain (through `sc`), shared verbatim by the
    * q_text_bm25 oracle and q_sim_hybrid's lexical arm — ONE SQL
    * definition of the score, so the two oracles cannot drift.
    */
  private[graft] val DuckBm25Cte: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |nt AS (SELECT count(*) AS n, sum(dl) AS t FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
      |       WHERE term IN ('dup', 'spark', 'vector') GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |         (CAST(1000000 AS HUGEINT) * (2*nt.n - 2*dfreq.df + 1))
      |           // (2*dfreq.df + 1) AS idf_e6,
      |         (CAST(1000000 AS HUGEINT) * 22 * nt.t * tf.tf)
      |           // (CAST(10 AS HUGEINT)*nt.t*tf.tf + CAST(3 AS HUGEINT)*nt.t
      |              + CAST(9 AS HUGEINT)*dl.dl*nt.n) AS tfn_e6
      |  FROM tf
      |  CROSS JOIN nt
      |  JOIN dfreq USING (term)
      |  JOIN dl USING (doc_id))""".stripMargin

  private[graft] def bm25(docs: DataFrame, tokLayer: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.scalarSubquery
    // Every statistic serves from the MAINTAINED token layer — the
    // inverted index the token_counts phase already feeds ten consumers
    // from — so no text bytes are read at any scale (the decision-vs-data
    // split of guide §8):
    //   tf   = the layer's (doc, term) rows filtered to the query terms
    //          (a PUSHABLE In(token, …) predicate at the layer scan; layer
    //          c counts the term's occurrences in split(text, ' '));
    //   dl   = Σ c per MATCHED doc only (broadcast semi-join of the
    //          query-sized matched ids, then a query-sized aggregation —
    //          never a corpus-wide doc-keyed shuffle);
    //   df   = |tf| per term (≤ |terms| rows, broadcast);
    //   T    = Σ c over the layer (≡ Σ token_count(text) bit-exactly:
    //          explode(split) emits every occurrence incl. "" for empty
    //          text; a null text contributes no rows exactly as sum()
    //          skips its null dl);
    //   N    = count(*) over docs — column-pruned to a ZERO-COLUMN scan
    //          (a null-text doc counts toward N but not the layer, which
    //          is why N alone does not fold onto the layer).
    // Crafted-corpus specs build their layer through the same
    // [[tokenPlanOf]].
    val tf = tokLayer.filter(col("token").isin(Bm25Terms: _*))
      .select(col("doc_id"), col("token").as("term"), col("c").as("tf"))
    val dl = tokLayer.join(
        broadcast(tf.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(sum("c").as("dl"))
    // one UNION-fed aggregation, not a crossJoin of two 1-row aggs: a
    // crossJoin plans a BroadcastNestedLoopJoin inside the subquery, and
    // the suite-wide PlanSpec pin (rightly) rejects BNLJ nodes. Layer rows
    // carry (c, 0), doc rows (null, 1); sum(c) skips the doc rows' nulls,
    // sum(one) counts exactly the doc rows — same exact Longs. N and T
    // ride ONE scalar subquery as a struct (a subquery must return one
    // column, not one field).
    val stats = tokLayer.select(col("c"), lit(0L).as("one"))
      .unionByName(docs.select(lit(null).cast("bigint").as("c"),
        lit(1L).as("one")))
      .agg(sum("c").as("t"), sum("one").as("n"))
      // count() was never null — pin n=0 on an empty corpus too
      .select(struct(coalesce(col("n"), lit(0L)).as("n"),
        col("t")).as("nt"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("nt", scalarSubquery(stats))
      .withColumn("n", col("nt.n"))
      .withColumn("t", col("nt.t"))
      // products run in DECIMAL(38,0) — 1e6·22·T·tf outgrows Long at
      // T·tf ≈ 4e11 (a ~40 GB corpus), and idf·tfn at corpus scale —
      // including the denominator subterms 3·T and 9·dl·N, cast into the
      // decimal domain so no Long product survives anywhere in the
      // scoring chain (ADVICE r11); the DECIMAL(38) envelope itself
      // holds to T ≈ 1e15 tokens (≫ any real corpus) and overflows by
      // ANSI throw, never a wrapped value. The
      // quotients and the final score re-enter the BIGINT output
      // contract via casts (score via try_cast: overflow surfaces as
      // null, never a silent Long wraparound — VERDICT r10 #5; the
      // oracle mirrors with HUGEINT internals and the same TRY_CAST).
      // PropertySpec pins the envelope edge.
      .withColumn("idf_e6", expr(IdfE6Expr))
      .withColumn("tfn_e6", expr(TfnE6Expr))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
           sum(expr(ScoreTermExpr)).as("score_d"))
      // rank on the EXACT decimal; the reported column re-enters the
      // BIGINT contract via try_cast (null past 2⁶³ in ANSI and legacy
      // modes alike — surfaced, never a wrapped Long; the oracle orders
      // by its exact HUGEINT sum and TRY_CASTs identically)
      .orderBy(col("score_d").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_terms"),
        expr("try_cast(score_d AS BIGINT)").as("score_e12"))
  }

  /** q_text_winnow constants: K-token grams, winnowing window of W
    * consecutive gram hashes, gram positions packed into the low
    * [[PosCap]] bits of the selection key. */
  private[graft] val WinnowK = 3
  private[graft] val WinnowW = 4
  // 2³² positions per doc: h < FpPrime ≈ 2³⁰ keeps key = h·2³² + pos-part
  // under 2⁶², so the pack never overflows before a document outgrows
  // every realistic length (4.3B grams)
  private val PosCap = 1L << 32

  /** Winnowing document fingerprints (public: Schleimer, Wilkerson &
    * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): hash every K-token gram, slide a
    * window of W consecutive gram hashes, and select each window's
    * minimum hash — RIGHTMOST occurrence on ties, the paper's rule — then
    * dedupe the selected (hash, position) picks. Guarantees every match
    * of length ≥ W+K-1 tokens shares a fingerprint, at expected density
    * 2/(W+1) — the standard plagiarism/near-dup fingerprint family
    * between full-content hashing (q_text_fingerprint) and shingle LSH
    * (q_dedup_minhash).
    *
    * The min-with-rightmost-tiebreak collapses to ONE integer min:
    * key = h·2³² + (2³²−1−pos), so min(key) is (min h, max pos) —
    * lexicographic encoding, exact in both engines (h < FpPrime ≈ 2³⁰ ⇒
    * key < 2⁶²; the 2³² position budget outlasts any realistic document).
    * Gram hashes are the Rabin-Karp polynomial over per-token md5 hashes
    * (one md5 per token, the TextHash doctrine).
    *
    * Shape at 100 TB: map-side gram fan-out (lambda-free arrays_zip, the
    * bigram precedent), constant ×W window fan-out, then two KEYED
    * aggregations — (doc_id, window_end) min, then the per-doc rollup —
    * both partial-combining map-side. No windows, no joins, nothing
    * corpus-quadratic; per-doc work is linear in document length.
    */
  /** The deduped winnowing pick set (doc_id, ng, h, pos) — factored from
    * [[winnow]] so specs can assert the shared-fingerprint guarantee and
    * the rightmost-min tie rule on the actual selections. */
  private[graft] def winnowPicks(docs: DataFrame): DataFrame = {
    val ts = split(col("text"), " ")
    val grams = docs
      .select(col("doc_id"), tokenHashes(col("text")).as("ha"),
        (size(ts) - (WinnowK - 1)).cast("long").as("ng"))
      .filter(col("ng") >= WinnowW)
      .select(col("doc_id"), col("ng"),
        posexplode(arrays_zip(
          slice(col("ha"), lit(1), col("ng").cast("int")),
          slice(col("ha"), lit(2), col("ng").cast("int")),
          slice(col("ha"), lit(3), col("ng").cast("int")))).as(Seq("p0", "g")))
      .select(col("doc_id"), col("ng"), (col("p0") + 1).cast("long").as("i"),
        pmod(pmod(col("g").getField("0") * PolyB + col("g").getField("1"),
                  lit(FpPrime)) * PolyB + col("g").getField("2"),
             lit(FpPrime)).as("h"))
    grams
      .select(col("doc_id"), col("ng"), col("i"),
        (col("h") * PosCap + (lit(PosCap - 1) - col("i"))).as("key"))
      .select(col("doc_id"), col("ng"), col("i"), col("key"),
        explode(sequence(lit(0), lit(WinnowW - 1))).as("off"))
      .withColumn("e", col("i") + col("off"))
      .filter(col("e") >= WinnowW && col("e") <= col("ng"))
      .groupBy("doc_id", "ng", "e")
      .agg(min("key").as("mk"))
      .select(col("doc_id"), col("ng"),
        expr(s"mk DIV $PosCap").as("h"),
        (lit(PosCap - 1) - pmod(col("mk"), lit(PosCap))).as("pos"))
      .distinct()
  }

  /** ONE DuckDB spelling of the winnowing pick set (CTE chain ending in
    * `p(doc_id, ng, h, pos)`), shared by the q_text_winnow and
    * q_dedup_winnow oracles — the duckBandPairSql rule. */
  private[operators] lazy val duckWinnowPicks: String =
    s"""t AS (
       |  SELECT doc_id, $duckTokenHashes AS ha,
       |         len(string_split(text, ' ')) - ${WinnowK - 1} AS ng
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, ng, ha, unnest(range(1, ng + 1)) AS i
       |  FROM t WHERE ng >= $WinnowW),
       |k AS (
       |  SELECT doc_id, ng, i,
       |         ((((ha[i] * $PolyB + ha[i+1]) % $FpPrime) * $PolyB
       |            + ha[i+2]) % $FpPrime) * ${PosCap}
       |           + (${PosCap - 1} - i) AS key
       |  FROM g),
       |w AS (
       |  SELECT doc_id, ng, i + off AS e, key
       |  FROM k, unnest([${(0 until WinnowW).mkString(", ")}]) o(off)
       |  WHERE i + off BETWEEN $WinnowW AND ng),
       |m AS (SELECT doc_id, ng, e, min(key) AS mk FROM w GROUP BY 1, 2, 3),
       |p AS (SELECT DISTINCT doc_id, ng, mk // ${PosCap} AS h,
       |             ${PosCap - 1} - (mk % ${PosCap}) AS pos FROM m)""".stripMargin

  private[graft] def winnow(docs: DataFrame): DataFrame =
    winnowRollup(winnowPicks(docs))

  /** The per-doc fingerprint rollup over an already-built pick set —
    * split from [[winnow]] so q_text_winnow can ride the session's
    * memoized pick cache (DedupQueries.winnowPickSet) instead of
    * re-running the pick pipeline every execution. */
  private[graft] def winnowRollup(picks: DataFrame): DataFrame =
    picks
      .groupBy("doc_id", "ng")
      .agg(count(lit(1)).as("n_fp"), pmod(sum("h"), lit(FpPrime)).as("fp_mod"))
      .select(col("doc_id"), col("ng").as("n_grams"), col("n_fp"),
              col("fp_mod"))
      .orderBy("doc_id")

  /** Two-corpus token-distribution drift in exact integer ppm: split the
    * corpus into two cohorts (here: even/odd source suffix — snapshot A
    * vs snapshot B), count each token's occurrences per cohort, and rank
    * tokens by |rate_A − rate_B| where rate = occurrences·10⁶ DIV total
    * (exact Long everywhere; o·10⁶ < 2⁶³ to ~9·10¹² occurrences — far
    * past any token at 100 TB). The distribution-shift monitor a
    * continuously-ingesting training pipeline runs between snapshots;
    * rate deltas in ppm rather than χ²/G² because those need ln/division
    * in floats — the rate form is exact and cross-engine bit-identical.
    *
    * Shape at 100 TB: ONE corpus-scale keyed aggregation (token fan-out
    * partial-combines map-side to vocab size); the two totals ride a
    * single struct scalar subquery over the vocab-sized table (the bm25
    * precedent — no join node); top-20 plans as TakeOrderedAndProject.
    */
  private[graft] def drift(docs: DataFrame): DataFrame =
    driftFromCounts(docs
      .withColumn("grp", pmod(SamplingQueries.srcNum, lit(2L)))
      .select(col("grp"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 2)
      .groupBy("token")
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("o1"),
           sum(when(col("grp") === 1, 1L).otherwise(0L)).as("o2")))

  /** [[drift]]'s tail over a PREBUILT (token, o1, o2) cohort-count
    * table — the layer-reader entry (q_text_drift folds the shared
    * token layer into the same shape). One definition with the
    * from-docs form. */
  private[graft] def driftFromCounts(tc: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.scalarSubquery
    val stats = tc.agg(sum("o1").as("n1"), sum("o2").as("n2"))
      .select(struct(col("n1"), col("n2")).as("nn"))
    // an empty cohort reports rate 0 rather than erroring the whole
    // comparison (ANSI DIV by zero) — a one-cohort corpus then ranks
    // purely by the populated side's rates, mirrored in the oracle
    tc.withColumn("nn", scalarSubquery(stats))
      .withColumn("r1_ppm",
        expr("CASE WHEN nn.n1 = 0 THEN 0L ELSE o1 * 1000000 DIV nn.n1 END"))
      .withColumn("r2_ppm",
        expr("CASE WHEN nn.n2 = 0 THEN 0L ELSE o2 * 1000000 DIV nn.n2 END"))
      .withColumn("drift_ppm", abs(col("r1_ppm") - col("r2_ppm")))
      .select("token", "o1", "o2", "r1_ppm", "r2_ppm", "drift_ppm")
      .orderBy(col("drift_ppm").desc, col("token").asc)
      .limit(20)
  }

  /** Exact heavy hitters via the two-pass Misra-Gries pattern: pass 1
    * runs [[graft.functions.FrequentItems]] (a typed Aggregator whose
    * state is ≤ K counters + the exact total — partial aggregation per
    * partition, k rows per partition on the exchange, NEVER a vocab-sized
    * hash map); pass 2 re-counts ONLY the ≤ K candidates (broadcast join
    * filter, tiny keyed aggregation) and keeps those with exact count
    * > n/(K+1). The MG no-false-negative guarantee makes the final set
    * order-independent — it equals the true heavy hitters whatever extra
    * candidates survived the sketch — so the operator is deterministic
    * and oracle-checkable even though the sketch itself is not.
    */
  private[graft] def heavyHitters(docs: DataFrame): DataFrame =
    graft.api.GraftOps.heavyHitters(
      docs.select(explode(split(col("text"), " ")).as("token")), "token")

  // ------------------------------------------------------------------
  // Learned quality filter (VERDICT r12 #4): a linear scorer over hashed
  // token features — the model-based gate DCLM/FineWeb-class curation
  // pipelines run beside the hand-weighted heuristics. Two twins, the
  // q_sim_ivf split: q_text_quality_model runs FIXTURE weights (a pure
  // integer function of the bucket id — stand-in for offline-trained
  // weights; a weight table is the data swap) in exact integer
  // arithmetic, hash-checked against DuckDB; q_text_quality_model_trained
  // runs weights from an in-Spark logistic fit (graft.api.LogReg —
  // deterministic by decimal accumulation), no_oracle by design with
  // determinism + holdout-AUC specs (LogRegSpec).
  // ------------------------------------------------------------------

  /** Hash-feature dimensionality of the quality model: tokens fold into
    * this many buckets via md5long (the engine-portable hash), so the
    * model is a D+1-double object at ANY corpus size. */
  private[graft] val QualityModelDim = 256

  /** Fixture weight of hash bucket b — an affine permutation of the
    * bucket id onto [-1000, 1000] (odd multiplier, coprime modulus), so
    * scores exercise both signs. Exact integers; the oracle restates the
    * same literal arithmetic. */
  private def fixtureWeight(b: Column): Column =
    (b * 40503 + 17) % 2001 - 1000

  /** Fit hyper-parameters — fixed constants (part of the model artifact
    * fingerprint, so changing them refits). Full-batch GD needs real
    * iteration counts on a 258-dim problem; each iteration is two keyed
    * aggregations over the cached feature triples. */
  private val QualityIters = 8
  private val QualityLr = 10.0

  /** Total feature dimensionality: the hashed buckets plus one
    * engineered LENGTH feature at index [[QualityModelDim]] — ratio
    * normalization (below) deliberately erases document length, but
    * length is a first-order quality signal (the heuristic's nTok/400
    * term, and every fasttext-class quality model sees it implicitly),
    * so it re-enters as its own bounded feature. */
  private[graft] val QualityFeatDim = QualityModelDim + 1

  /** Per-doc features (id, b, c): hashed token buckets with c =
    * count/doc_len — the RATIO form (bounded [0,1], Σ_b c = 1) so
    * gradient steps are scale-free — plus the capped length feature.
    * Shared by the trainer and the trained scorer so the feature
    * definition cannot drift between fit and apply. One vocab-sized
    * aggregation for the totals; both arms ride the memoized token
    * layer.
    */
  private def qualityFeatures(s: SparkSession, d: String): DataFrame = {
    val totals = tokenLayer(s, d).groupBy("doc_id").agg(sum("c").as("n"))
    val hashed = tokenLayer(s, d).join(totals, "doc_id")
      .select(col("doc_id").as("id"),
        pmod(md5long(col("token")), lit(QualityModelDim)).cast("int").as("b"),
        (col("c").cast("double") / col("n")).as("c"))
    val lenF = totals.select(col("doc_id").as("id"),
      lit(QualityModelDim).cast("int").as("b"),
      least(col("n").cast("double") / 400, lit(1.0)).as("c"))
    hashed.unionByName(lenF)
  }

  /** Labels for the trained gate: the hand-weighted heuristic's verdict
    * (qualityE6Col ≥ 550000) on the TRAINING split — every doc_id % 5
    * ≠ 0; the % 5 == 0 fifth is the holdout LogRegSpec scores AUC on.
    * The learned model's job is to recover the heuristic gate from
    * hashed token counts alone (the distillation framing: at scale the
    * labels would come from a curated seed set — a data swap).
    */
  private def qualityLabels(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id").as("id"),
        (qualityE6Col >= 550000L).cast("int").as("y"))

  /** Session model cache for the text-trained models (the
    * SimilarityQueries.memoModel posture, keyed (session, kind, dir)).
    * Each entry is driver-resident model state — the logit weight array,
    * the vocab piece list — with its source tag ("artifact" or "fit"). */
  private val textModelCache = new graft.api.SessionMemo[(AnyRef, String)]()

  /** Release the session-memoized text models (logit weights, BPE merges,
    * vocab pieces, contamination sketch): the next access re-serves from
    * the persisted model artifacts. */
  private[graft] def releaseTextModels(s: SparkSession): Unit =
    textModelCache.release(s)

  private[graft] def textTrainSource(s: SparkSession, kind: String,
                                     d: String): String =
    textModelCache.peek(s, kind, d).fold("unbuilt")(_._2)

  private def memoTextModel[A <: AnyRef](s: SparkSession, kind: String,
      d: String)(readArt: String => Option[A], buildAndPersist: String => A): A =
    textModelCache.get(s, kind, d) {
      val slug = d.replaceAll("[^A-Za-z0-9]+", "_")
      val table = s"g_model_${kind}_$slug"
      readArt(table) match {
        case Some(m) => (m, "artifact")
        case None => (buildAndPersist(table), "fit")
      }
    }._1.asInstanceOf[A]

  /** Trained quality-gate MODEL (dim weights, intercept, operating
    * threshold — dim+2 doubles) — artifact-served (fingerprint on
    * documents.parquet) or fit via [[graft.api.LogReg]]; either way
    * bounded driver model state. The threshold is the (1 − base-rate)
    * exact quantile of the TRAINING split's margins (the distributed
    * [[graft.api.Quantiles]] engine — bounded executor state), so the
    * gate's keep rate matches the label base rate by construction: the
    * standard operating-point calibration for a ranker whose raw margin
    * scale is uncalibrated (see [[scoreWithWeights]]).
    */
  private[graft] def trainedQualityWeights(s: SparkSession,
                                               d: String): Array[Double] = {
    // v5 = the digest-fingerprint migration (VERDICT r16 #3)
    val fp = graft.api.IndexArtifacts
      .fileFingerprintDigest(s"$d/documents.parquet") +
      s":logit-v5:d$QualityFeatDim:i$QualityIters:lr$QualityLr"
    memoTextModel[Array[Double]](s, "logitq", d)(
      readArt = table =>
        graft.api.IndexArtifacts.readModel(s, table, fp).map { df =>
          val w = new Array[Double](QualityFeatDim + 2)
          df.collect().foreach(r => w(r.getInt(0)) = r.getDouble(1))
          w
        },
      buildAndPersist = { table =>
        val feats = qualityFeatures(s, d)
        val labels = qualityLabels(s, d)
        val w = graft.api.LogReg.fit(feats, labels,
          QualityFeatDim, iters = QualityIters, lr = QualityLr)
        // operating point: margins over the training split only (the
        // holdout must stay unseen end-to-end), exact interpolated
        // (1 − p) quantile where p = the label base rate
        val cnt = labels.agg(count(lit(1)), sum("y")).head
        val p = math.max(1e-9, math.min(1 - 1e-9,
          cnt.getLong(1).toDouble / cnt.getLong(0)))
        val trainMargins = marginsOf(feats, w, QualityFeatDim)
          .join(labels.select(col("id").as("doc_id")), Seq("doc_id"))
          .withColumn("g", lit(1))
        val thr = graft.api.Quantiles.exactQuantiles(
          trainMargins, "g", "m", Seq(1 - p)).head.getDouble(2)
        val model = w :+ thr
        val rows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(
            model.indices.map(b => org.apache.spark.sql.Row(b, model(b))): _*)
        val df = s.createDataFrame(rows,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("b",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("w",
              org.apache.spark.sql.types.DoubleType))))
        graft.api.IndexArtifacts.persistModel(s, df, table, fp)
        model
      })
  }

  /** Per-doc margins (doc_id, m) under weight array `w` (intercept at
    * w(dim)) — the shared apply path. Decimal margin sum:
    * order-independent, so emitted floors/gates can never flip between
    * runs (the LogReg.fit accumulation rule). */
  private def marginsOf(feats: DataFrame, w: Array[Double],
                        dim: Int): DataFrame = {
    // weights attach as a constant-folded literal array — driver model
    // state needs no join node (the LogReg.fit device): the apply plan
    // is scan → project → one id-keyed aggregation
    val warr = array((0 until dim).map(b => lit(w(b))): _*)
    feats
      .groupBy("id")
      .agg((sum((col("c") * element_at(warr, col("b") + 1))
        .cast("decimal(30,15)"))
        .cast("double") + w(dim)).as("m"))
      .select(col("id").as("doc_id"), col("m"))
  }

  /** The trained scorer over a precomputed MODEL (dim weights +
    * intercept + operating threshold — see [[trainedQualityWeights]]) —
    * factored so LogRegSpec can drive a crafted corpus through the
    * production apply path. The gate is m ≥ model(dim+1), the trained
    * operating point, NOT m ≥ 0: the hashed ratio features sum to one
    * per doc, so the bucket weights are collinear with the intercept and
    * a short full-batch schedule leaves the raw margin scale
    * uncalibrated even when the ORDERING (the AUC) is long converged —
    * the threshold pins the operating point to the label base rate
    * instead. */
  private[graft] def scoreWithWeights(feats: DataFrame,
                                          model: Array[Double]): DataFrame = {
    val dim = model.length - 2
    marginsOf(feats, model, dim)
      .select(col("doc_id"),
        floor(col("m") * 1e6).cast("long").as("score_e6"),
        (col("m") >= model(dim + 1)).as("keep"))
  }

  // ------------------------------------------------------------------
  // Corpus-trained subword vocabulary (VERDICT r12 #5): derive the top-K
  // pieces from corpus substring frequencies with deterministic tie
  // rules. The DERIVATION is exact integer counting — hash-checked as
  // q_text_vocab_train; the trained TOKENIZATION twin
  // (q_text_subwords_trained) runs the identical greedy longest-match
  // engine over the derived vocab (runtime PieceTable shipped via the
  // codegen reference array), no_oracle by design with determinism +
  // fertility-improvement specs. The 90-piece fixture twin
  // (q_text_subwords) stays hash-checked.
  // ------------------------------------------------------------------

  /** Trained vocabulary size — matches the fixture vocabulary's piece
    * count so fertility comparisons are budget-for-budget. */
  private[graft] val TrainedVocabK = 90

  /** (rank, piece, score): top-K length-2..MaxPiece substrings of the
    * corpus's lowercase-ASCII words, scored by total occurrence count
    * (occurrences within a word count per position — both engines count
    * the same sliding windows), tie-broken by piece string. Rides the
    * memoized token layer; the piece aggregation is vocab-sized, the
    * top-K is a TakeOrderedAndProject, and the rank window runs on the
    * K-row result (deliberate single-partition over bounded data).
    */
  private[graft] def vocabTrainPlan(s: SparkSession, d: String): DataFrame =
    vocabTopPieces(corpusWords(s, d))

  /** The (w, n) lowercase word-frequency table every vocabulary trainer
    * derives from — rides the memoized token layer; vocab-sized, never
    * corpus-sized. Shared by [[vocabTrainPlan]] and [[bpeMergeList]] so
    * the two trainers cannot drift on the word filter. */
  private[graft] def corpusWords(s: SparkSession, d: String): DataFrame =
    tokenLayer(s, d)
      .select(lower(col("token")).as("w"), col("c"))
      // \A..\z anchors, NOT ^..$: Java's $ matches BEFORE a final
      // line terminator, so "word\n" would pass ^[a-z]{2,}$ on the
      // Spark side while DuckDB's RE2 rejects it — a latent hash
      // mismatch on any fixture whose text contains newlines, and a
      // non-[a-z] piece would crash PieceTable's lowercase require
      // (r13 review)
      .filter(col("w").rlike("\\A[a-z]{2,}\\z"))
      .groupBy("w").agg(sum("c").as("n"))

  /** The piece derivation over ANY (w, n) word-frequency table —
    * factored so SubwordVocabSpec can hand-derive crafted corpora
    * through the production path. */
  private[graft] def vocabTopPieces(words: DataFrame): DataFrame = {
    val maxP = graft.functions.SubwordTokenizer.MaxPiece
    val pieces = words.select(col("n"), explode(flatten(
        transform(sequence(lit(2), lit(maxP)), l =>
          when(length(col("w")) >= l,
            transform(sequence(lit(1), length(col("w")) - l + 1),
              i => col("w").substr(i, l)))
          .otherwise(array().cast("array<string>"))))).as("piece"))
    val top = pieces.groupBy("piece").agg(sum("n").as("score"))
      .orderBy(col("score").desc, col("piece").asc)
      .limit(TrainedVocabK)
    top.withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("piece").asc))
        .cast("long"))
      .select("rank", "piece", "score")
      .orderBy("rank")
  }

  /** Merge rounds for [[bpeMergeList]] — bounded by construction (the
    * Sennrich hyperparameter; production raises it, the derivation shape
    * does not change). */
  private[graft] val BpeMerges = 12

  /** Adjacent symbol pairs of a space-separated symbol string (the BPE
    * working representation " h e l l o "): symbols never contain
    * spaces, so the pair key is `sym || ' ' || sym`. The size guard is
    * parity-load-bearing: Spark's sequence(1, 0) yields a DESCENDING
    * [1, 0] where DuckDB's range(1, 1) is empty, so a fully-merged
    * single-symbol word must short-circuit to an empty pair list. */
  private def bpePairs(s: Column): Column = {
    val arr = split(trim(s), " ")
    when(size(arr) >= 2,
      transform(sequence(lit(1), size(arr) - 1), i =>
        concat(element_at(arr, i), lit(" "), element_at(arr, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Iterative byte-pair-encoding merge derivation (public: Sennrich,
    * Haddow & Birch, "Neural Machine Translation of Rare Words with
    * Subword Units", ACL 2016) — the REAL merge loop VERDICT r13 #4
    * asked for beside the static top-substring vocab_train: each round
    * counts adjacent SYMBOL pairs over the word-frequency table (exact
    * integer counts — n-weighted Long sums, order-independent), merges
    * the max-count pair (ties → lexicographically smallest pair string,
    * both engines compare ASCII [a-z ]), and rewrites the words. Unlike
    * vocab_train's fixed length-2..MaxPiece substrings, merges COMPOSE:
    * round k can join round j<k's output into arbitrarily long pieces.
    *
    * Merge application is TWO left-to-right non-overlapping
    * literal-replace passes over the framed symbol string (' a b ' →
    * ' ab '): one pass misses every second occurrence of a chained pair
    * (the shared boundary space is consumed), the second pass catches
    * them — both engines run the identical replace algorithm, so the device is
    * parity-exact BY CONSTRUCTION (BpeSpec pins the chain cases,
    * including the degenerate same-symbol run where the split can
    * differ from canonical greedy BPE — deterministically, in both
    * engines, documented there).
    *
    * Scale shape — DELTA-MAINTAINED pair counts (VERDICT r14 #4, real
    * Sennrich's bookkeeping): the framed words table AND the pair-count
    * table are MATERIALIZED state (eager localCheckpoint — lineage
    * truncates each round, so round k's plan never replays rounds 1..k-1;
    * a multi-tenant cluster run swaps in reliable `checkpoint` — a
    * durability knob, not a shape change). Each round: the LIMIT-1
    * TakeOrdered over the counts table picks the merge; only the words
    * CONTAINING the merged pair rewrite (' l r ' containment is exactly
    * replace-applicability on the framed string); their before/after
    * pair multisets form a ± delta (n-weighted exact Long sums) that
    * folds into the counts table by one union+agg. Per-round cost is
    * therefore one pass over each table — O(M·vocab) total, not the
    * O(M²) the replay form pays — and the chosen merge returns to the
    * driver as ONE row — bounded model state, the KMeans.fit doctrine.
    * BpeSpec pins this loop bit-identical to [[bpeMergeListRecount]] at
    * M=12 and M=48 (incremental counts ≡ full recount is exact: Long
    * deltas, unchanged words contribute unchanged pairs).
    *
    * Returns (merge_rank, lhs, rhs, merged, score) driver rows; stops
    * early if the corpus runs out of pairs.
    */
  private[graft] def bpeMergeList(words: DataFrame,
      m: Int): Seq[(Long, String, String, String, Long)] = {
    var cur = framedBpeWords(words).localCheckpoint(true)
    var counts = cur
      .select(explode(bpePairs(col("s"))).as("pair"), col("n"))
      .groupBy("pair").agg(sum("n").as("score"))
      .localCheckpoint(true)
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var k = 1
    var done = false
    while (k <= m && !done) {
      val best = counts
        .orderBy(col("score").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val pair = best(0).getString(0)
        val score = best(0).getLong(1)
        val Array(l, r) = pair.split(" ", 2)
        val merged = l + r
        out += ((k.toLong, l, r, merged, score))
        val pat = s" $l $r "
        val rep = s" $merged "
        // only the words containing the pair change; everything else
        // keeps both its string and its pair contributions. The delta
        // and the rewrite are both single projections over `cur` —
        // NEVER a filter+union (a narrow union doubles the partition
        // count every round: exponential task explosion by round ~14)
        val hit = cur.filter(col("s").contains(pat))
        val newHit = hit.withColumn("s",
          replace(replace(col("s"), lit(pat), lit(rep)), lit(pat), lit(rep)))
        val delta = hit
          .select(explode(bpePairs(col("s"))).as("pair"),
                  (-col("n")).as("score"))
          .unionAll(newHit.select(
            explode(bpePairs(col("s"))).as("pair"), col("n").as("score")))
        counts = counts.unionAll(delta)
          .groupBy("pair").agg(sum("score").as("score"))
          .filter(col("score") > 0)
          .localCheckpoint(true)
        cur = cur.withColumn("s",
            when(col("s").contains(pat),
              replace(replace(col("s"), lit(pat), lit(rep)),
                      lit(pat), lit(rep)))
              .otherwise(col("s")))
          .localCheckpoint(true)
        // superseded checkpoint RDDs become unreachable here; the
        // ContextCleaner reclaims their storage asynchronously
        k += 1
      }
    }
    out.result()
  }

  private def framedBpeWords(words: DataFrame): DataFrame =
    words.select(
      concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("s"),
      col("n"))

  /** The pre-r15 full-recount form of [[bpeMergeList]] — round k
    * recounts ALL pairs under k·2 accumulated replace passes (O(M²)
    * column work). Kept as the SPEC REFERENCE the delta-maintained loop
    * must match bit-for-bit (BpeSpec, M=12 and M=48); never on a query
    * path. */
  private[graft] def bpeMergeListRecount(words: DataFrame,
      m: Int): Seq[(Long, String, String, String, Long)] = {
    val base = framedBpeWords(words)
    base.cache()
    try {
      val out = Seq.newBuilder[(Long, String, String, String, Long)]
      var cur = base
      var k = 1
      var done = false
      while (k <= m && !done) {
        val best = cur
          .select(explode(bpePairs(col("s"))).as("pair"), col("n"))
          .groupBy("pair").agg(sum("n").as("score"))
          .orderBy(col("score").desc, col("pair").asc)
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val pair = best(0).getString(0)
          val score = best(0).getLong(1)
          val Array(l, r) = pair.split(" ", 2)
          val merged = l + r
          out += ((k.toLong, l, r, merged, score))
          val pat = lit(s" $l $r ")
          val rep = lit(s" $merged ")
          cur = cur.withColumn("s",
            replace(replace(col("s"), pat, rep), pat, rep))
          k += 1
        }
      }
      out.result()
    } finally base.unpersist(blocking = false)
  }

  /** The memoized BPE merge table — artifact-served (fingerprint on
    * documents.parquet) or derived via [[bpeMergeList]]; M rows of
    * driver model state. */
  private[graft] def trainedBpeMerges(s: SparkSession,
      d: String): Seq[(Long, String, String, String, Long)] = {
    // v2 = the digest-fingerprint migration (VERDICT r16 #3)
    val fp = graft.api.IndexArtifacts
      .fileFingerprintDigest(s"$d/documents.parquet") +
      s":bpe-v2:m$BpeMerges"
    memoTextModel[Seq[(Long, String, String, String, Long)]](s, "bpe", d)(
      readArt = table =>
        graft.api.IndexArtifacts.readModel(s, table, fp).map { df =>
          df.collect().sortBy(_.getLong(0)).map(r =>
            (r.getLong(0), r.getString(1), r.getString(2),
             r.getString(3), r.getLong(4))).toSeq
        },
      buildAndPersist = { table =>
        val merges = bpeMergeList(corpusWords(s, d), BpeMerges)
        import s.implicits._
        graft.api.IndexArtifacts.persistModel(s,
          merges.toDF("merge_rank", "lhs", "rhs", "merged", "score"),
          table, fp)
        merges
      })
  }

  /** The trained piece list (rank order) — artifact-served or derived
    * via [[vocabTrainPlan]]; K strings of driver model state. */
  private[operators] def trainedVocabPieces(s: SparkSession,
                                            d: String): Seq[String] = {
    // v3 = the digest-fingerprint migration (VERDICT r16 #3)
    val fp = graft.api.IndexArtifacts
      .fileFingerprintDigest(s"$d/documents.parquet") +
      s":vocab-v3:k$TrainedVocabK"
    memoTextModel[Seq[String]](s, "vocab", d)(
      readArt = table =>
        graft.api.IndexArtifacts.readModel(s, table, fp).map { df =>
          df.collect().sortBy(_.getLong(0)).map(_.getString(1)).toSeq
        },
      buildAndPersist = { table =>
        val top = vocabTrainPlan(s, d)
        graft.api.IndexArtifacts.persistModel(s, top, table, fp)
        // read the just-persisted artifact back instead of re-running
        // the corpus derivation: collect()ing `top` would execute the
        // full vocab plan a SECOND time, doubling the one-time fit cost
        // (the outlierQuartiles read-back pattern — r18 self-review);
        // the read degrades to the live collect only if the persist
        // failed (unwritable warehouse)
        graft.api.IndexArtifacts.readModel(s, table, fp)
          .map(_.collect().sortBy(_.getLong(0)).map(_.getString(1)).toSeq)
          .getOrElse(
            top.collect().sortBy(_.getLong(0)).map(_.getString(1)).toSeq)
      })
  }

  /** The trained gate as a STATELESS PER-ROW operator — the streaming
    * member of the learned-quality family (s_quality_gate): a pure
    * projection over (doc_id, text), so the identical expression runs
    * unchanged under readStream in append mode with no watermark (the
    * s_mm_decode posture). BIT-EQUAL to [[scoreWithWeights]] over the
    * token layer BY CONSTRUCTION, not by tolerance: the row's tokens
    * sort, one HOF fold groups equal-token RUNS, and each run emits the
    * SAME double term the batch computes for that (doc, token) feature
    * row — (count/n)·w, one rounding each — all accumulated in
    * DECIMAL(30,15), whose exact addition makes the two engines'
    * different summation ORDERS irrelevant (the LogReg doctrine). The
    * per-row cost is O(L log L) for the sort + O(L) for the fold.
    * LogRegSpec pins row-gate ≡ batch-gate row-for-row. NULL-text docs
    * are DROPPED, exactly as the batch twin's token-layer explode drops
    * them (r13 review: the gate previously emitted a null-score row for
    * them, silently breaking row-for-row equality on such corpora).
    */
  private[graft] def rowQualityGate(docsIn: DataFrame,
                                    model: Array[Double],
                                    carryText: Boolean = false): DataFrame = {
    // the sorted token array and its size bind as ALIASES in their own
    // projection (r15 perf fix): embedding the expression trees directly
    // re-evaluates split+sort at EVERY fold step that reads `n` — an
    // O(L²·log L) per-doc cost. CollapseProject keeps the split because
    // duplicating a non-cheap alias is exactly what it refuses to do.
    val docs = docsIn.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        array_sort(split(col("text"), " ")).as("__toks"))
      .select(col("doc_id"), col("text"), col("__toks"),
        size(col("__toks")).cast("double").as("__n"))
    val dim = model.length - 2 // = QualityFeatDim (hashed buckets + length)
    val warr = array((0 until dim).map(b => lit(model(b))): _*)
    val toks = col("__toks")
    val n = col("__n")
    // bucket modulus derives from the MODEL's shape (dim − 1 hashed
    // buckets + the length feature) so a spec-crafted small model stays
    // self-consistent; the production model has dim − 1 == QualityModelDim
    def wOf(t: Column): Column =
      element_at(warr,
        (pmod(md5long(t), lit(dim - 1)) + 1).cast("int"))
    val dec0 = lit(0).cast("decimal(30,15)")
    def runTerm(prev: Column, run: Column): Column =
      when(prev.isNull, dec0)
        .otherwise(((run.cast("double") / n) * wOf(prev))
          .cast("decimal(30,15)"))
    val folded = aggregate(toks,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
             dec0.as("acc")),
      (acc, t) => {
        val prev = acc.getField("prev"); val run = acc.getField("run")
        when(prev <=> t,
          struct(prev.as("prev"), (run + 1).as("run"),
                 acc.getField("acc").as("acc")))
        .otherwise(
          struct(t.as("prev"), lit(1L).as("run"),
                 // re-cast: decimal addition widens precision and the
                 // fold's accumulator type is fixed at init; margins are
                 // |·| < 10⁶ so the cast is always exact
                 (acc.getField("acc") + runTerm(prev, run))
                   .cast("decimal(30,15)").as("acc")))
      })
    val lenTerm = ((least(n / 400, lit(1.0)) * model(dim - 1))
      .cast("decimal(30,15)"))
    val m = (folded.getField("acc") +
        runTerm(folded.getField("prev"), folded.getField("run")) + lenTerm)
      .cast("double") + model(dim)
    docs.select(Seq(col("doc_id"),
      floor(m * 1e6).cast("long").as("score_e6"),
      (m >= model(dim + 1)).as("keep")) ++
      (if (carryText) Seq(col("text")) else Nil): _*)
  }

  /** The COMPOSED streaming-curation pipeline (VERDICT r14 #6): the gate
    * trio CHAINED in the order a crawl pipeline runs them — learned
    * quality first (cheapest reject — one per-row fold), then corpus
    * membership (one hash probe against the persisted Bloom sketch),
    * then benchmark contamination (shingle-array fold against the
    * benchmark sketch). Every stage is the SAME pure per-row projection
    * its standalone gate runs ([[rowQualityGate]],
    * [[graft.operators.DedupQueries.bloomProbeExpr]],
    * [[contaminationGateRows]]'s exists-fold), and the chain is ONE
    * projection emitting per-stage verdict FLAGS plus their short-circuit
    * conjunction `keep` — codegen's lazy boolean AND gives exactly the
    * "early reject skips the later probes" evaluation, while inter-stage
    * FILTERS would make Catalyst substitute the quality fold into each
    * predicate (the expression evaluates twice and the collapsed stage's
    * generated code balloons — measured ~5× the summed stage cost before
    * this form). Stateless end to end: it runs unchanged under
    * readStream in append mode, and a WATERMARK CANNOT DROP ITS ROWS —
    * there is no stateful operator for lateness to act on (StreamingSpec
    * pins exactly that: an out-of-order three-micro-batch MemoryStream
    * with rows arriving behind the watermark still bit-equals the batch
    * twin). Emits every batch row as (doc_id, score_e6, q_keep,
    * maybe_seen, maybe_contaminated, keep) — the gate family's
    * flag-emitting posture; `keep` rows are "what enters training
    * today", score along for curriculum use, and the per-stage flags
    * say which gate rejected the rest (null flags = short-circuited,
    * never evaluated).
    */
  private[graft] def curationPipelineRows(docs: DataFrame,
      model: Array[Double], corpusBloom: Array[Byte],
      benchBloom: Array[Byte]): DataFrame = {
    val scored = rowQualityGate(docs, model, carryText = true)
      .withColumnRenamed("keep", "q_keep")
    // stage verdicts evaluate LAZILY: `when(earlier rejected, null)`
    // short-circuits per row inside one codegen'd projection
    val seen = when(col("q_keep"),
      DedupQueries.bloomProbeExpr(corpusBloom, xxhash64(col("text"))))
    val contam = when(col("q_keep") && !seen,
      coalesce(
        exists(DedupQueries.shingleHashArray(col("text")),
               DedupQueries.bloomProbeFn(benchBloom)),
        lit(false)))
    scored.select(col("doc_id"), col("score_e6"), col("q_keep"),
      seen.as("maybe_seen"), contam.as("maybe_contaminated"),
      (col("q_keep") && !seen && !contam).as("keep"))
  }

  /** Holdout AUC of the trained gate against the heuristic labels on the
    * doc_id % 5 == 0 split the fit never saw — the LogRegSpec gate.
    * Collects only the holdout-sized (score, label) pairs (evaluation
    * scale, not corpus scale — the q_dedup_audit sampled-ground-truth
    * posture). */
  private[graft] def trainedQualityHoldoutAuc(s: SparkSession,
                                              d: String): Double = {
    val scored = scoreWithWeights(qualityFeatures(s, d),
      trainedQualityWeights(s, d))
    val lab = documents(s, d)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), (qualityE6Col >= 550000L).cast("int").as("y"))
    val rows = scored.join(lab, "doc_id")
      .select(col("score_e6"), col("y")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    // a one-class holdout has NO ranking to grade — NaN fails any >=
    // gate instead of vacuously passing it at 1.0 (r13 review)
    if (pos.isEmpty || neg.isEmpty) return Double.NaN
    // exact Mann-Whitney AUC with tie credit 0.5
    var wins = 0.0
    pos.foreach(p => neg.foreach(n =>
      wins += (if (p > n) 1.0 else if (p == n) 0.5 else 0.0)))
    wins / (pos.length.toDouble * neg.length)
  }

  /** Named one-time training phases for Bench (the
    * SimilarityQueries.trainPhases pattern). */
  private[graft] def trainPhases(s: SparkSession, d: String)
      : Seq[(String, () => Long, () => String)] = Seq(
    ("logit_quality_train", () => trainedQualityWeights(s, d).length.toLong,
      () => textTrainSource(s, "logitq", d)),
    ("bpe_train", () => trainedBpeMerges(s, d).size.toLong,
      () => textTrainSource(s, "bpe", d)),
    ("contam_gate", () => benchShingleBloomBytes(s, d).length.toLong,
      () => textTrainSource(s, "contamgate", d)),
    ("vocab_train", () => trainedVocabPieces(s, d).size.toLong,
      () => textTrainSource(s, "vocab", d)))

  def queries: Map[String, Q] = Map(
    "q_text_tokens" -> ((s, d) =>
      // Token frequency top-20 over the shared token layer: lowercase
      // folds exactly through the aggregation (split-then-lower ≡
      // lower-then-split — Unicode case mapping never touches U+0020),
      // and the length filter runs on the LOWERED token, matching the
      // original tokenize-lowered-text order.
      tokenLayer(s, d)
        .select(lower(col("token")).as("token"), col("c"))
        .filter(length(col("token")) > 2)
        .groupBy("token")
        .agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    "q_text_tokencount" -> ((s, d) =>
      // Whitespace tokens vs regex word-ish tokens (BPE-style pre-tokenizer
      // shape: runs of letters or digits) vs raw chars.
      documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
            .cast("long").as("re_tokens"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")),

    "q_text_pii" -> ((s, d) =>
      // PII audit (see [[piiAudit]]) — compliance telemetry, not removal
      piiAudit(documents(s, d)).orderBy("doc_id")),

    "q_text_subwords" -> ((s, d) =>
      // The subword tokenizer as a first-class profile operator (not just
      // the pack/chunk budget internals): per-doc piece count from the
      // codegen'd greedy longest-match scan (SubwordTokenizer), plus
      // fertility — pieces per whitespace word ×10⁶, the standard
      // tokenizer-quality diagnostic (high fertility = the vocab splinters
      // this corpus; integer-scaled DIV so the compare is exact). Pure
      // map-side projection; the oracle re-derives identical counts from
      // the shared piece vocabulary via the recursive greedy scan.
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.expressions.SubwordFunctions
            .subword_count(col("text")).as("n_subwords"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        .withColumn("fertility_e6",
          expr("n_subwords * 1000000 DIV n_words"))
        .orderBy("doc_id")),

    "q_text_vocab_train" -> ((s, d) =>
      // Corpus-trained subword vocabulary DERIVATION (the trainable half
      // of the tokenizer stack): top-K candidate pieces by total
      // substring occurrence — exact integer counting with total-order
      // ties, so the trained vocab is hash-checked even though greedy
      // tokenization under it has no SQL mirror. See [[vocabTrainPlan]].
      vocabTrainPlan(s, d)),

    "q_text_vocab_bpe" -> ((s, d) => {
      // REAL iterative BPE merge training (VERDICT r13 #4; Sennrich et
      // al. 2016) beside vocab_train's static substring scoring: the
      // merge table itself — exact integer pair counts, lexicographic
      // tie rule, BpeMerges bounded rounds, composed pieces. The
      // derivation is memoized model state ([[trainedBpeMerges]] —
      // artifact-served like vocab_train) and HASH-CHECKED: the oracle
      // replays the identical merge loop as a generated chain of
      // per-round CTEs. See [[bpeMergeList]] for the merge-application
      // parity device.
      import s.implicits._
      trainedBpeMerges(s, d)
        .toDF("merge_rank", "lhs", "rhs", "merged", "score")
        .orderBy("merge_rank")
    }),

    "q_text_subwords_trained" -> ((s, d) => {
      // q_text_subwords under the CORPUS-TRAINED vocabulary — the
      // production half of the fixture-vocab split (the q_sim_ivf_trained
      // rule): identical greedy longest-match engine, vocab =
      // [[trainedVocabPieces]] (bounded model state shipped to executors
      // through the expression's reference array). no_oracle BY DESIGN —
      // a trained vocab's greedy scan has no independent SQL rederivation
      // that isn't the engine again; contract = bit-determinism + a
      // fertility improvement over the fixture vocab (SubwordVocabSpec),
      // while q_text_subwords and q_text_vocab_train stay hash-checked.
      val pieces = trainedVocabPieces(s, d)
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.expressions.SubwordFunctions
            .subword_count_vocab(lower(col("text")), pieces).as("n_subwords"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        .withColumn("fertility_e6",
          expr("n_subwords * 1000000 DIV n_words"))
        .orderBy("doc_id")
    }),

    "q_text_subwords_bpe" -> ((s, d) => {
      // The BPE merge table FED TO the tokenizer (the verdict's "then
      // feed PieceTable"): greedy longest-match subword counting under
      // the vocabulary the merge loop learned — the identical engine as
      // q_text_subwords/_trained (codegen reference-array PieceTable),
      // pieces = the merged symbols of [[trainedBpeMerges]] (composed
      // pieces included — the packing cap is PieceTable.MaxLen = 8
      // bytes, longer compositions filter out, documented there). Note
      // the matching RULE stays greedy longest-match, not merge-order
      // application — the standard vocab-reuse hybrid (a SentencePiece
      // vocab consumed by a WordPiece matcher), deterministic either
      // way. no_oracle by design like q_text_subwords_trained; BpeSpec
      // pins hand-derived counts + determinism, and the derivation twin
      // q_text_vocab_bpe stays hash-checked.
      val pieces = trainedBpeMerges(s, d).map(_._4)
        .filter(_.length <= graft.functions.PieceTable.MaxLen).distinct
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.expressions.SubwordFunctions
            .subword_count_vocab(lower(col("text")), pieces).as("n_subwords"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        .withColumn("fertility_e6",
          expr("n_subwords * 1000000 DIV n_words"))
        .orderBy("doc_id")
    }),

    "q_text_quality_model" -> ((s, d) =>
      // Model-based quality gate, FIXTURE weights (see the section
      // comment above [[QualityModelDim]]): tokens hash into D buckets,
      // the doc score is the count-weighted integer weight sum — one
      // map-side projection over the memoized token layer + one
      // doc-keyed aggregation (partial-combining; at 100 TB this is a
      // linear scan with a doc-keyed shuffle of 2-long rows). Exact
      // integers end-to-end; |w| ≤ 1000 and doc lengths ≤ 10⁵ keep the
      // score < 10⁸ — far inside BIGINT.
      tokenLayer(s, d)
        .select(col("doc_id"), col("c"),
          fixtureWeight(pmod(md5long(col("token")),
            lit(QualityModelDim))).as("w"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_tokens"),
             sum(col("c") * col("w")).cast("long").as("score"))
        .withColumn("keep", col("score") >= 0)
        .orderBy("doc_id")),

    "q_text_quality_model_trained" -> ((s, d) =>
      // The TRAINED twin: weights from graft.api.LogReg's deterministic
      // logistic fit (labels = the hand-weighted heuristic gate on the
      // training split — the distillation framing), applied through the
      // same hashed-feature definition. no_oracle BY DESIGN (a trained
      // float model has no SQL rederivation; DuckDB cannot re-run the
      // fit); contract = bit-deterministic fit + holdout AUC ≥ 0.80
      // (LogRegSpec), the KMeans.fit/no_oracle precedent.
      scoreWithWeights(qualityFeatures(s, d),
        trainedQualityWeights(s, d)).orderBy("doc_id")),

    "s_quality_gate" -> ((s, d) =>
      // STREAMING learned quality gate — the model family's streaming
      // member (the s_mm_decode posture): [[rowQualityGate]] is a pure
      // per-row projection of the persisted model, so the identical
      // expression runs unchanged under readStream in append mode
      // (StreamingSpec drives it over a two-micro-batch MemoryStream);
      // this batch twin is BIT-EQUAL to q_text_quality_model_trained
      // row-for-row (LogRegSpec pins it — the sorted-run decimal fold
      // emits the same term multiset the bucket aggregation sums).
      // no_oracle by design (trained float model), like its twin.
      rowQualityGate(documents(s, d), trainedQualityWeights(s, d))
        .orderBy("doc_id")),

    "s_contamination_gate" -> ((s, d) =>
      // STREAMING decontamination gate — the third member of the
      // streaming-curation trio (learned quality, corpus membership,
      // and now benchmark leakage): [[contaminationGateRows]] probes
      // each row's shingle-hash array against the persisted
      // benchmark-shingle sketch as a pure projection, so the identical
      // expression runs under readStream append (StreamingSpec pins
      // two-micro-batch bit-equality to this batch twin and zero false
      // negatives vs the exact contaminationStats probe). no_oracle by
      // design (Spark-specific sketch layout), like the other gates.
      contaminationGateRows(
        documents(s, d).filter(col("doc_id") % 50 =!= 0),
        benchShingleBloomBytes(s, d)).orderBy("doc_id")),

    "s_curation_pipeline" -> ((s, d) => {
      // The COMPOSED curation pipeline — the gate trio chained (see
      // [[curationPipelineRows]]): today's crawl (the s_dedup_gate
      // doc_id % 10 == 0 split) runs quality → membership →
      // contamination as one stateless projection+filter chain; the
      // survivors are the rows a training run would ingest. All three
      // models are the PERSISTED artifacts the standalone gates serve
      // (trained logit weights, corpus Bloom, benchmark-shingle Bloom) —
      // composing adds no new state, no join, no shuffle, so the batch
      // twin streams unchanged (StreamingSpec drives it out-of-order
      // across a watermark). no_oracle by design like each member gate
      // (trained float model + Spark-specific sketch layouts).
      val batch = documents(s, d).filter(col("doc_id") % 10 === 0)
      curationPipelineRows(batch, trainedQualityWeights(s, d),
        DedupQueries.corpusBloomBytes(s, d),
        benchShingleBloomBytes(s, d)).orderBy("doc_id")
    }),

    "q_text_langid" -> ((s, d) =>
      // Heuristic language-ID — see [[langPred]], the one definition
      // shared with q_text_langid_eval's confusion matrix.
      langPred(documents(s, d)).orderBy("doc_id")),

    "q_text_langid_eval" -> ((s, d) =>
      // Classifier EVALUATION — the confusion matrix a curation team
      // reads before trusting any cheap lang-ID gate: predicted vs
      // LABELED language with per-true-label share in exact ppm (the
      // diagonal is recall; off-diagonal cells say which languages leak
      // into which). Predictions are [[langPred]] — the IDENTICAL
      // expression q_text_langid scores with, so the eval can never
      // drift from the classifier it grades. Shape: one corpus-scan
      // keyed aggregation collapsing to ≤ |langs|² cells; the ppm window
      // rides the tiny rollup (the q_event_transitions rule), never the
      // corpus.
      langPred(fanOut(documents(s, d)))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_tot", sum("n").over(Window.partitionBy("lang")))
        .withColumn("share_ppm", expr("n * 1000000 DIV row_tot"))
        .drop("row_tot")
        .orderBy("lang", "pred_lang")),

    "q_text_tok_lengths" -> ((s, d) =>
      // Token-LENGTH histogram — the tokenizer-calibration profile
      // behind the subword budgets: natural text peaks at 3–8 chars,
      // key-value spam and URL shards skew long. Lengths cap at 20 (the
      // tail cell) so the output is a fixed ≤21-cell histogram; one
      // keyed aggregation over the map-side fan-out.
      // weighted over the MEMOIZED token layer (r18 self-review): every
      // instance of a token has the same length, so count over instances
      // ≡ sum(c) over the vocab-sized layer — no corpus re-explode
      tokenLayer(s, d)
        .select(least(length(col("token")), lit(20)).cast("long").as("len"),
                col("c"))
        .groupBy("len").agg(sum("c").as("n"))
        .orderBy("len")),

    "q_text_quality_src" -> ((s, d) =>
      // Per-source quality-DECILE matrix — q_corpus_profile's mean hides
      // the tails; this is the distribution view curation actually
      // filters on (a source with a respectable mean and a fat
      // bottom-decile tail needs a gate, not a weight). quality_e6 is
      // [[qualityE6Col]] — the ONE definition — bucketed map-side into
      // fixed deciles; cells bounded ≤ |sources|×11, the share window
      // rides the tiny rollup (the langid_mix shape).
      fanOut(documents(s, d))
        .select(col("source"), qualityE6Col.as("q_e6"))
        .groupBy(col("source"), expr("q_e6 DIV 100000").as("decile"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_tot", sum("n").over(Window.partitionBy("source")))
        .withColumn("share_ppm", expr("n * 1000000 DIV row_tot"))
        .drop("row_tot")
        .orderBy("source", "decile")),

    "q_text_langid_mix" -> ((s, d) =>
      // Per-SOURCE language composition — the curation telemetry beside
      // the confusion matrix: what languages is each crawl source
      // actually delivering (a "news-en" feed drifting multilingual is a
      // routing bug this surfaces immediately). Predictions are
      // [[langPred]] with `source` carried through — ONE corpus scan,
      // no join-back, the same one-definition rule as the eval. Cells
      // bounded ≤ |sources|×|langs|; the share window rides the tiny
      // rollup.
      langPred(fanOut(documents(s, d)), keep = Seq("source"))
        .groupBy(col("source"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_tot", sum("n").over(Window.partitionBy("source")))
        .withColumn("share_ppm", expr("n * 1000000 DIV row_tot"))
        .drop("row_tot")
        .orderBy("source", "pred_lang")),

    "q_text_quality" -> ((s, d) => {
      // Quality scoring: length, mean token length, stopword ratio, type/
      // token ratio → single blended score (integer-scaled via floor so the
      // cross-engine comparison is exact; Parity rationale). The score is
      // [[qualityE6Col]] — the one definition shared with its consumers.
      val toks = split(col("text"), " ")
      val nTok = size(toks).cast("double")
      val nUniq = size(array_distinct(toks)).cast("double")
      documents(s, d)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          floor((nUniq / nTok) * 1e6).cast("long").as("uniq_ratio_e6"),
          qualityE6Col.as("quality_e6"))
        .orderBy("doc_id")
    }),

    "q_text_readability" -> ((s, d) =>
      // Flesch-Kincaid grade level as a corpus-quality gate (Kincaid et
      // al. 1975) — the readability lens the blended q_text_quality
      // score doesn't cover: words per sentence + syllables per word,
      // with syllables approximated by vowel groups (the standard cheap
      // estimator). All-integer arithmetic at ×10⁶ scale (one DIV per
      // ratio term), so the cross-engine compare is exact; every count
      // is a pure per-row projection — token_count rides the native
      // kernel, sentence count is a char-count subtraction, vowel
      // groups one regex pass. No shuffle at all before the output sort.
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.expressions.StringFunctions
            .token_count(col("text")).as("n_words"),
          greatest(lit(1L),
            (length(col("text")) -
             length(translate(col("text"), ".", ""))).cast("long"))
            .as("n_sentences"),
          size(regexp_extract_all(lower(col("text")),
            lit("[aeiou]+"), lit(0))).cast("long").as("n_syllables"))
        .withColumn("fk_e6",
          expr("390000 * n_words DIV n_sentences" +
               " + 11800000 * n_syllables DIV n_words - 15590000"))
        .orderBy("doc_id")),

    "q_text_gopher" -> ((s, d) => {
      // The Gopher rule-bundle quality gate (public: Rae et al. 2021,
      // §A.1.1) — the REJECTION-RULE lens next to q_text_quality's
      // blended score and q_text_readability's grade level: a document
      // passes only if every hard rule holds. Implemented rules (the
      // line-based bullet/ellipsis-line rules need multi-line docs —
      // the fixture is single-line, so they are left to [[clean]]'s
      // line machinery rather than computed as constant zeros here):
      //   R1 word count in [50, 100000]
      //   R2 mean word length in [3, 10]   (×10⁶ integer scale)
      //   R3 symbol-to-word ratio ≤ 0.1    ('#' chars + '...' runs)
      //   R4 ≥ 80% of words contain an alphabetic character
      //   R5 ≥ 2 stopword hits             (the corpus stopword list —
      //      the paper's 8-word English list is vocabulary-specific;
      //      the repo-wide 6-word list keeps ONE stopword definition)
      // All signals are exact integers (counts and ×10⁶ DIV ratios —
      // the readability precedent), so the cross-engine compare is
      // bit-exact; everything is a pure per-row projection over one
      // scan, zero shuffles before the presentation sort. n_words
      // rides the native token_count kernel; symbol counts are
      // length-subtraction (no regex); the alpha test is the one
      // per-token lambda (bounded by doc length, never corpus-keyed).
      import graft.functions.expressions.StringFunctions.token_count
      val ts = split(col("text"), " ")
      documents(s, d)
        .select(col("doc_id"),
          token_count(col("text")).as("n_words"),
          (length(col("text")) -
           length(translate(col("text"), "#", ""))).cast("long").as("n_hash"),
          ((length(col("text")) -
            length(replace(col("text"), lit("..."), lit("")))) / 3)
            .cast("long").as("n_ellipsis"),
          size(filter(ts, t => t.rlike("[A-Za-z]"))).cast("long")
            .as("n_alpha_words"),
          size(filter(ts, t =>
            stopwords.foldLeft(lit(false))((acc, w) => acc || (t === lit(w)))))
            .cast("long").as("stop_hits"),
          length(col("text")).cast("long").as("n_chars"))
        .withColumn("mwl_e6",
          expr("(n_chars - (n_words - 1)) * 1000000 DIV n_words"))
        .withColumn("sym_ratio_e6",
          expr("(n_hash + n_ellipsis) * 1000000 DIV n_words"))
        .withColumn("alpha_frac_e6",
          expr("n_alpha_words * 1000000 DIV n_words"))
        .withColumn("keep",
          col("n_words") >= 50L && col("n_words") <= 100000L &&
          col("mwl_e6") >= 3000000L && col("mwl_e6") <= 10000000L &&
          col("sym_ratio_e6") <= 100000L &&
          col("alpha_frac_e6") >= 800000L &&
          col("stop_hits") >= 2L)
        .select("doc_id", "n_words", "mwl_e6", "sym_ratio_e6",
                "alpha_frac_e6", "stop_hits", "keep")
        .orderBy("doc_id")
    }),

    "q_text_contamination" -> ((s, d) =>
      // Benchmark decontamination probe — see [[contaminationStats]],
      // the one definition shared with q_pipeline_eval's clean gate.
      contaminationStats(s, d)
        .withColumn("contam_e6",
          floor(col("n_contaminated").cast("double") /
                col("n_shingles").cast("double") * 1e6).cast("long"))
        .orderBy("doc_id")),

    "q_text_repetition" -> ((s, d) => {
      // Gopher-style repetition signals: occurrences of the most frequent
      // token and duplicate-bigram count — the classic "low-quality by
      // repetition" filters. Entirely map-side (per-doc work is bounded by
      // document length, zero shuffles before the presentation sort); the
      // quadratic-looking top-token scan is O(uniq × len) of a SINGLE
      // document, not of the corpus.
      val ts = split(col("text"), " ")
      val nTok = size(ts)
      val topTok = array_max(transform(array_distinct(ts),
        w => size(filter(ts, x => x === w))))
      val bigrams = when(nTok >= 2,
          transform(sequence(lit(0), nTok - 2),
            j => concat_ws(" ", element_at(ts, j + 1), element_at(ts, j + 2))))
        .otherwise(array().cast("array<string>"))
      documents(s, d)
        .select(
          col("doc_id"),
          nTok.cast("long").as("n_tokens"),
          topTok.cast("long").as("top_tok_n"),
          (size(bigrams) - size(array_distinct(bigrams))).cast("long")
            .as("dup_bigram_n"))
        .withColumn("top_frac_e6",
          floor(col("top_tok_n").cast("double") /
                col("n_tokens").cast("double") * 1e6).cast("long"))
        .orderBy("doc_id")
    }),

    "q_text_dup_ngrams" -> ((s, d) => {
      // CORPUS-WIDE duplicate-n-gram fraction (public: Rae et al. 2021,
      // Gopher §A.2 quality filters) — the cross-document complement of
      // q_text_repetition's within-doc signals: a doc scores high when its
      // trigrams also occur elsewhere in the corpus (boilerplate, mirrored
      // pages, template text). Per doc: trigram instance count, instances
      // whose trigram occurs ≥2× corpus-wide, and the e6 fraction (integer
      // DIV — the tfidf precedent keeps the compare bit-exact).
      //
      // Scale shape: explode to (doc_id, trigram) — 3× token volume, one
      // row per position — then ONE trigram-keyed aggregation (vocabulary-
      // sized result), one keyed join back (AQE broadcasts the count side
      // when it fits), one doc-keyed aggregation, and a LEFT join to
      // restore <3-token docs at zero. Nothing is quadratic; mega-dup
      // trigrams only widen one aggregation key. The engine keys the count
      // table on xxhash64 of the trigram (8-byte shuffle key instead of the
      // string — the q_text_dedup_lines precedent); the oracle keys on the
      // raw trigram string, so the two agree absent a 64-bit collision.
      val ts = split(col("text"), " ")
      val n = size(ts)
      val tris = when(n >= 3,
          transform(sequence(lit(0), n - 3),
            j => concat_ws(" ", element_at(ts, j + 1), element_at(ts, j + 2),
                                element_at(ts, j + 3))))
        .otherwise(array().cast("array<string>"))
      val inst = fanOut(documents(s, d))
        .select(col("doc_id"), explode(tris).as("tri"))
        .select(col("doc_id"), xxhash64(col("tri")).as("h"))
      val cnt = inst.groupBy("h").agg(count(lit(1)).as("c"))
      val perDoc = inst.join(cnt, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"),
             sum(when(col("c") >= 2, 1L).otherwise(0L)).as("dup_tri_n"))
      documents(s, d).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          coalesce(col("dup_tri_n"), lit(0L)).as("dup_tri_n"))
        .withColumn("dup_frac_e6",
          when(col("n_tri") === 0, 0L)
            .otherwise(expr("dup_tri_n * 1000000 DIV n_tri")))
        .orderBy("doc_id")
    }),

    "q_text_tfidf" -> ((s, d) => {
      // TF-IDF keyword extraction: top-3 most characteristic terms per doc
      // by tf × (1/df) — the log-free idf variant keeps the score in exact
      // integer arithmetic (tf·10⁶ DIV df) so the cross-engine compare is
      // bit-exact; production swaps ln(N/df) with no shape change. Shape:
      // one tf aggregation (doc_id, term), one df aggregation over it
      // (term — already term-keyed, so partial aggregation is cheap), one
      // term-keyed join back, one per-doc window for the top-3. All
      // shuffles are keyed and linear in token volume; df is vocabulary-
      // sized, so AQE broadcasts the join side when it fits. tf IS the
      // shared token layer verbatim — (doc_id, term, count) — so the
      // corpus tokenize + first aggregation ride the memoized build.
      val tf = tokenLayer(s, d)
        .select(col("doc_id"), col("token").as("term"), col("c").as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf_e6").desc, col("term").asc)
      tf.join(dfreq, Seq("term"))
        .withColumn("tfidf_e6", expr("tf * 1000000 DIV df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf_e6")
        .orderBy("doc_id", "term")
    }),

    "q_text_keywords" -> ((s, d) => {
      // SOURCE fingerprinting — q_text_tfidf one level up: each SOURCE
      // is the "document", and its top-5 most characteristic tokens
      // (source-tf × 1/source-df, the same exact-integer log-free idf)
      // are the signature a curation dashboard shows per crawl/feed —
      // navigation tokens surface instantly. Shape: one (source, token)
      // aggregation (vocab×sources-bounded), one token-keyed df over it,
      // join-back, and the per-source top-5 window plans a
      // WindowGroupLimit (map-side partial top-k — the q_topk_group
      // rule), so no source's token list ever sorts whole in one task.
      // The (source, token) rollup folds the shared token layer — a
      // vocab-sized aggregation instead of a corpus re-tokenize.
      val tf = tokenLayer(s, d).groupBy("source", "token")
        .agg(sum("c").as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("source")
        .orderBy(col("score_e6").desc, col("token").asc)
      tf.join(dfreq, Seq("token"))
        .withColumn("score_e6", expr("tf * 1000000 DIV df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("source", "token", "tf", "df", "score_e6")
        .orderBy("source", "token")
    }),

    "q_text_bm25" -> ((s, d) =>
      // Okapi BM25 top-20 for the fixed 3-term query — see [[bm25]].
      // No fanOut (r18): the fused token kernels are ~µs/doc — the
      // repartition bought nothing and charged every downstream stage 32
      // task constants (deserialize + schedule); stage-probe-measured.
      bm25(documents(s, d), tokenLayer(s, d))),

    "q_text_surprisal" -> ((s, d) => {
      // Corpus-frequency surprisal scoring (the CCNet-style "perplexity
      // filter" analog without a model): rare tokens score high
      // (n_corpus DIV corpus_count), docs dominated by rare tokens get a
      // high mean — the standard cheap proxy for "weird text" at corpus
      // scale. Exact integer arithmetic end-to-end (BIGINT floor
      // division), so the cross-engine compare is bit-exact.
      // Shape at 100 TB: one token aggregation (vocab-sized), a 1-row
      // total attached as an uncorrelated scalar subquery (evaluated
      // once, injected into the projection — no join node, per the
      // engine's scalar-attachment doctrine), one vocab-keyed join back
      // (AQE broadcasts the count side when it fits), one per-doc
      // aggregation.
      // folded over the MEMOIZED token layer (the tfidf/zipf refactor —
      // r18 self-review): every per-instance term is constant within a
      // (doc, token) group, so Σ_instances (n DIV ct) ≡ Σ_tokens
      // c·(n DIV ct) bit-exactly, and the corpus re-tokenize drops out
      // of the timed run
      val lay = tokenLayer(s, d)
      val cnt = lay.groupBy("token").agg(sum("c").as("ct"))
      val tot = cnt.agg(sum("ct").as("n_corpus"))
      lay.join(cnt, Seq("token"))
        .withColumn("n_corpus",
          org.apache.spark.sql.GraftSqlBridge.scalarSubquery(tot))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
             sum(expr("c * (n_corpus DIV ct)")).as("surprisal_sum"))
        .withColumn("surprisal_mean",
          expr("surprisal_sum DIV n_tokens"))
        .orderBy("doc_id")
    }),

    "q_text_clean" -> ((s, d) =>
      // C4-style cleaning (the day-one corpus-builder pass) — see
      // [[clean]]. fanOut parallelizes the kernel's projection pass on
      // the one-row-group fixture file (gated: identity at data scale);
      // the pushed-down doc gate still runs at the scan.
      clean(fanOut(documents(s, d))).orderBy("doc_id")),

    "q_text_dedup_lines" -> ((s, d) =>
      // corpus-wide line dedup (C4's repeated-span rule) — see [[dedupLines]]
      dedupLines(documents(s, d)).orderBy("doc_id")),

    "q_text_bigram_surprisal" -> ((s, d) => {
      // Bigram-conditional surprisal — the model-free perplexity filter
      // one level up from q_text_surprisal's unigram version: score each
      // bigram by c(w1·) DIV c(w1,w2) (how UNEXPECTED w2 is after w1 —
      // an integer >= 1, exact in both engines), mean per doc. Docs full
      // of never-seen-in-context transitions (shuffled text, OCR noise,
      // spam keyword salads) score high even when every individual word
      // is common — exactly what the unigram filter cannot see.
      //
      // Shape at 100 TB: bigrams hash to LONG keys map-side (xxhash64 of
      // w1 / of (w1,w2) — string join keys would shuffle ~10× the bytes,
      // and xxhash64 is a native 64-bit hash with no hex-string
      // intermediate, ~an order of magnitude cheaper than md5+conv; the
      // hashes are INTERNAL join keys only, never output, so the oracle
      // groups by the raw strings instead and the results agree modulo
      // 64-bit collisions — negligible at any realistic vocab). The
      // fan-out is the fused `bigram_hash_counts` kernel (round 12):
      // tokenize + pair + chained xxhash64 + IN-DOC counting in one
      // codegen'd byte scan per document, emitting per-doc DISTINCT
      // (h1, h2, c) structs — the corpus never materializes token
      // strings or per-position zip rows (the prior lambda-free
      // slice/arrays_zip shape was ~10 CPU-s at sf0.1, nearly all of it
      // token-array and struct churn; hash keys are BIT-IDENTICAL, see
      // TokenStatsSpec). The (doc_id,h1,h2) aggregation stays: its rows
      // are already unique per doc (map-side partial agg is a
      // pass-through) but its exchange CANONICALIZES — the kernel is
      // lambda-free, so cnt is planned once and reused by all three
      // consumers — pinned in PlanSpec by counting scans AND Generates
      // on the executed plan, per the repo's reuse-verification
      // discipline. The w1-context totals come from groupBy(h1) +
      // join-back (the q_dedup_substring pattern), NOT a Window over
      // h1: a stop-word's distinct-successor set is vocabulary-sized
      // (10⁷–10⁸ bigrams at 100 TB) and a window would park it in ONE
      // task, while the aggregation partial-combines map-side and the
      // join-back is AQE-skew-splittable. All shuffles keyed, nothing
      // pair-quadratic.
      import graft.functions.expressions.StringFunctions.bigram_hash_counts
      // examined r19: a doc_id-KEYED fan-out (so the (doc_id,h1,h2) agg
      // and the final rollup ride one exchange) was tried and REVERTED —
      // moving the exchange BELOW the kernel un-shares it: bc's branch
      // re-ran the bigram kernel (executed plan: 2 Generates/2 scans
      // where the PlanSpec pin requires 1), because what the consumers
      // share is cnt's POST-kernel aggregation exchange. The round-robin
      // fanOut + canonicalizing agg exchange stands as designed.
      val cnt = fanOut(documents(s, d))
        .select(col("doc_id"),
          explode(bigram_hash_counts(col("text"))).as("b"))
        .select(col("doc_id"),
          col("b").getField("h1").as("h1"),
          col("b").getField("h2").as("h2"),
          col("b").getField("c").as("bc0"))
        .groupBy("doc_id", "h1", "h2").agg(sum("bc0").as("c"))
      // bc is the bigram-vocab count table; cu(h1) = c(w1·) is a second
      // aggregation over bc (bc's exchange is reused, not re-planned —
      // lambda-free subtrees canonicalize) joined back on h1 while both
      // sides are still VOCAB-sized, before the corpus-sized cnt join.
      // At the test scale AQE broadcasts cu; at vocab scales past
      // broadcast it degrades to a keyed, skew-splittable shuffle join —
      // either way no task ever holds a whole stop-word context serially.
      val bc = cnt.groupBy("h1", "h2").agg(sum("c").as("cb"))
      // cu folds over bc, not cnt (r18, guide §2.3): Σ_{h2} cb(h1,h2) ≡
      // Σ_{h2} Σ_docs c — bit-identical Long sums — so the w1-context
      // totals aggregate the BIGRAM-VOCAB-sized bc instead of re-
      // aggregating the corpus-sized cnt (bc's exchange is reused; the
      // cu exchange now ships vocab partials, not corpus partials)
      val cu = bc.groupBy("h1").agg(sum("cb").as("cu"))
      cnt
        .join(bc.join(cu, Seq("h1")), Seq("h1", "h2"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"),
             sum(expr("c * (cu DIV cb)")).as("surprisal_sum"))
        .withColumn("surprisal_mean", expr("surprisal_sum DIV n_bigrams"))
        .orderBy("doc_id")
    }),

    "q_text_fingerprint" -> ((s, d) => {
      // Document fingerprints: exact content hash (md5) + an
      // order-insensitive token fingerprint (sum of per-token hashes mod p,
      // catches token permutations — the fixture's planted near-dups).
      val tokenFp = aggregate(
        transform(split(col("text"), " "), t => pmod(md5long(t), lit(FpPrime))),
        lit(0L),
        (acc, h) => pmod(acc + h, lit(FpPrime)))
      documents(s, d)
        .select(
          col("doc_id"),
          md5(col("text").cast("binary")).as("content_md5"),
          tokenFp.as("token_fp"))
        .orderBy("doc_id")
    }),

    "q_text_winnow" -> ((s, d) =>
      // winnowing (MOSS) fingerprint selection — see [[winnow]]; the
      // pick set reads from the session memo shared with q_dedup_winnow
      // (built once, attributed as the winnow_picks bench phase)
      winnowRollup(DedupQueries.winnowPickSet(s, d))),

    "q_text_drift" -> ((s, d) =>
      // cross-snapshot token-rate drift in exact ppm — see [[drift]];
      // cohort counts fold the shared token layer (Σc per (grp, token))
      driftFromCounts(tokenLayer(s, d)
        .withColumn("grp", pmod(SamplingQueries.srcNum, lit(2L)))
        .filter(length(col("token")) > 2)
        .groupBy("token")
        .agg(sum(when(col("grp") === 0, col("c")).otherwise(0L)).as("o1"),
             sum(when(col("grp") === 1, col("c")).otherwise(0L)).as("o2")))),

    "q_text_heavyhitters" -> ((s, d) =>
      // two-pass Misra-Gries exact heavy hitters — see [[heavyHitters]];
      // the sketch pass consumes the shared token layer as WEIGHTED
      // (token, c) rows (FrequentItemsW — same guarantee over n = Σc),
      // so it reads vocab-sized rows instead of re-exploding the corpus;
      // the exact recount makes the output identical either way.
      graft.api.GraftOps.heavyHittersWeighted(
        tokenLayer(s, d).select(col("token"), col("c")), "token", "c")),

    "q_text_heavyhitters_src" -> ((s, d) =>
      // PER-SOURCE exact heavy hitters — the boilerplate-token detector
      // run per crawl source (a token that dominates ONE source is
      // navigation/template text even when corpus-rare): the grouped
      // two-pass Misra-Gries pattern (GraftOps.heavyHittersByWeighted —
      // each source summarizes through its own ≤K-counter typed-
      // Aggregator partials fed the shared token layer's weighted rows,
      // pass 2 re-counts the ≤K·|sources| candidates exactly).
      // Per-group MG guarantee ⇒ order-independent, oracle-checkable
      // output (the q_text_heavyhitters rule, per group).
      graft.api.GraftOps.heavyHittersByWeighted(
        tokenLayer(s, d).select(col("source"), col("token"), col("c")),
        "source", "token", "c")),

    "q_text_ascii" -> ((s, d) =>
      // Charset profile per source — the encoding-health audit run on
      // every new crawl (mojibake, double-encoded UTF-8, and CJK content
      // routed to a Latin pipeline all surface as multibyte-rate
      // anomalies): non-ASCII codepoints occupy > 1 byte in UTF-8, so
      // Σbytes − Σchars counts the multibyte EXCESS exactly — no regex,
      // no per-char loop, just two lengths both engines compute
      // identically; rate in exact ppm of bytes. One source-keyed
      // map-side aggregation, sources-sized output.
      documents(s, d)
        .select(col("source"),
          length(col("text")).cast("long").as("chars"),
          octet_length(col("text").cast("binary")).cast("long").as("bytes"))
        .groupBy("source")
        .agg(sum("chars").as("n_chars"), sum("bytes").as("n_bytes"))
        .withColumn("multibyte_ppm",
          expr("(n_bytes - n_chars) * 1000000 DIV n_bytes"))
        .orderBy("source")),

    "q_text_vocab" -> ((s, d) =>
      // Per-source vocabulary profile: tokens, distinct tokens, and the
      // type-token ratio in exact ppm — the lexical-diversity signal
      // curation tracks per source (boilerplate-heavy sources show a
      // collapsing TTR). One source-keyed aggregation over the shared
      // token layer (Σc = raw token count; rows are already distinct
      // (doc, token), so the distinct rewrite's first phase is
      // pre-folded) — both stages partial-combine map-side, output is
      // sources-sized.
      tokenLayer(s, d)
        .groupBy("source")
        .agg(sum("c").as("n_tokens"),
             count_distinct(col("token")).as("n_vocab"))
        .withColumn("ttr_ppm", expr("n_vocab * 1000000 DIV n_tokens"))
        .orderBy("source")),

    "q_text_vocab_overlap" -> ((s, d) =>
      // Cross-source VOCABULARY Jaccard matrix — the domain-similarity
      // read for mixing decisions beside q_dedup_source_overlap's
      // content matrix: that one answers "how much of source A's TEXT
      // repeats source B" (verified near-dup pairs), this one answers
      // "how alike are the LEXICONS" — two crawls of the same domain
      // score high here with zero duplicated documents, and a source
      // whose vocabulary is disjoint from every other is the mixing
      // outlier worth inspecting. See [[vocabOverlap]] for the shape.
      vocabOverlap(tokenLayer(s, d).select("source", "token"))),

    "q_text_hapax" -> ((s, d) =>
      // Hapax-legomenon rate per source — the vocabulary-GROWTH signal
      // beside q_text_vocab's TTR: natural language keeps minting
      // singletons (Heaps' law puts hapaxes near half the vocabulary),
      // while template/boilerplate sources exhaust their vocabulary and
      // the singleton rate collapses. Shape: one (source, token)
      // rollup of the shared token layer (vocab-sized after map-side
      // partials), one sources-sized rollup, exact ppm.
      tokenLayer(s, d)
        .groupBy("source", "token").agg(sum("c").as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_types"),
             sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
             sum("n").as("n_tokens"))
        .withColumn("hapax_ppm", expr("n_hapax * 1000000 DIV n_types"))
        .orderBy("source")),

    "q_text_dedup_prefix" -> ((s, d) =>
      // TRUNCATION-duplicate detection: the same page captured at
      // different cut-off lengths shares its head but not its tail, so
      // full-content hashing (q_dedup_content) misses it and shingle
      // Jaccard dilutes with the length gap. Rule: docs sharing their
      // first-8-token prefix group together — a truncation pair collides
      // whenever both captures kept at least the 8-token head (a capture
      // cut shorter than the probe window is below any useful dup
      // granularity); groups of ≥ 2 are the truncation-dup report. Shape: map-side
      // prefix projection, ONE prefix-keyed aggregation. At 100 TB the
      // shuffle key is xxhash64(prefix) with the string carried via
      // max() (the dedup_lines precedent); the oracle-visible grouping
      // here is the raw prefix — same groups either way.
      fanOut(documents(s, d))
        .select(col("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("prefix"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"),
             min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("prefix")),

    "q_text_stopwords" -> ((s, d) =>
      // Corpus-DISCOVERED stopword / boilerplate tokens: everything in
      // ≥ 40% of documents (document frequency, not raw count — a token
      // repeated 100× in one doc is topic, in every doc it's template).
      // The classic DF-threshold discovery run before hand-tuning any
      // stopword list. Shape: one (doc, token) distinct (the tf-idf df
      // rule — partial-combining), one token-keyed df aggregation
      // (vocab-sized), the doc total as a scalar subquery; output is the
      // tiny high-DF head. df_ppm exact Long. df folds the shared token
      // layer (its rows are already distinct (doc, token)).
      stopwordsFromDf(
        tokenLayer(s, d).groupBy("token").agg(count(lit(1)).as("df")),
        documents(s, d))),

    "q_text_zipf" -> ((s, d) => {
      // Zipf head profile: the top-50 tokens with rank and the rank×count
      // product (Zipf's law predicts it near-constant across the head) —
      // the one-glance sanity check that a corpus' token distribution
      // looks like natural language rather than boilerplate (flat head)
      // or key-value spam (no head). Shape: ONE vocab-sized keyed
      // aggregation (map-side partials), top-50 via TakeOrderedAndProject
      // (never a full sort), and the rank window runs on the 50-row
      // result block — the bounded-block window rule (q_sim_knn_batch
      // precedent), never a corpus- or vocab-scale window. Fully
      // tie-broken order (count desc, token asc) keeps rank deterministic
      // in both engines. Counts fold the shared token layer (Σc per
      // token) through the one zipfFromCounts definition.
      zipfFromCounts(
        tokenLayer(s, d).groupBy("token").agg(sum("c").as("n")))
    })
  )

  /** Benchmark decontamination (the pre-training hygiene pass): for
    * every NON-benchmark corpus doc, its shingle count and how many of
    * its 3-token shingles appear in the held-out benchmark set (fixture:
    * every 50th doc plays the benchmark). ONE definition of the
    * benchmark-membership rule and the probe shape, shared by
    * q_text_contamination (the per-doc report) and q_pipeline_eval (the
    * zero-overlap gate) — the two must never drift. Shape at 100 TB: the
    * benchmark's DISTINCT shingle set is tiny next to the corpus, so AQE
    * broadcasts it and the check is a map-side probe + one per-doc
    * aggregation — linear, no self-join.
    */
  /** s_contamination_gate's persisted benchmark-shingle sketch: the
    * DISTINCT 3-gram shingle hashes of the held-out benchmark slice
    * (the contaminationStats doc_id % 50 split — ONE split definition)
    * folded into a Bloom sketch under the module-constant geometry —
    * bounded binary model state, artifact-served like the quality
    * weights. At 100 TB the benchmark suite's shingle set is millions
    * of n-grams; the sketch stays 2 MiB regardless, and false positives
    * only ever route a clean doc to exact verification. */
  private[graft] def benchShingleBloomBytes(s: SparkSession,
                                            d: String): Array[Byte] = {
    // v2 = the digest-fingerprint migration (VERDICT r16 #3)
    val fp = graft.api.IndexArtifacts
      .fileFingerprintDigest(s"$d/documents.parquet") +
      ":contamgate-v2"
    memoTextModel[Array[Byte]](s, "contamgate", d)(
      readArt = table =>
        graft.api.IndexArtifacts.readModel(s, table, fp).map(
          _.collect().head.getAs[Array[Byte]]("bf")),
      buildAndPersist = { table =>
        val row = DedupQueries.bloomAggOver(
            docShingleHashes(s, d).filter(col("doc_id") % 50 === 0)
              .select("h").distinct(),
            col("h"),
            graft.api.IndexArtifacts.BloomExpectedItems,
            graft.api.IndexArtifacts.BloomNumBits)
          .filter(col("bf").isNotNull)
          .collect().headOption // shingle-less benchmark → null sketch
        require(row.nonEmpty,
          s"s_contamination_gate: the benchmark slice of " +
          s"$d/documents.parquet yields no shingles (no doc_id % 50 == 0 " +
          "docs, or all are < 3 tokens) — a leakage sketch over nothing " +
          "gates nothing; check the split or the fixture")
        val bytes = row.get.getAs[Array[Byte]]("bf")
        import s.implicits._
        graft.api.IndexArtifacts.persistModel(s,
          Seq(bytes).toDF("bf"), table, fp)
        bytes
      })
  }

  /** The streaming decontamination gate as a PURE per-row projection
    * (the s_quality_gate / s_dedup_gate posture): a row's distinct
    * shingle hashes fold against the benchmark sketch with exists() —
    * no explode, no join, no shuffle — so the identical expression runs
    * unchanged under readStream append. Zero false negatives by Bloom
    * construction: every doc the exact probe (contaminationStats) marks
    * contaminated flags true; false positives go to exact verification.
    * Docs with < 3 tokens have no shingles and gate clean, exactly like
    * the exact probe. */
  private[graft] def contaminationGateRows(docs: DataFrame,
                                           bytes: Array[Byte]): DataFrame =
    docs.select(col("doc_id"),
      coalesce(
        exists(DedupQueries.shingleHashArray(col("text")),
               DedupQueries.bloomProbeFn(bytes)),
        lit(false)).as("maybe_contaminated"))

  private[operators] def contaminationStats(s: SparkSession,
                                            d: String): DataFrame = {
    val sh = docShingleHashes(s, d)
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select("h").distinct().withColumn("hit", lit(1L))
    sh.filter(col("doc_id") % 50 =!= 0)
      .join(bench, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
  }

  /** Heuristic language-ID over (doc_id, lang, text) rows. The fixture
    * vocabulary is shared across the synthetic lang labels, so no
    * heuristic can recover them — the operator contract is a
    * deterministic stopword/charclass profile score with an argmax, the
    * standard cheap lang-ID shape. ONE definition for q_text_langid (the
    * per-doc scores) and q_text_langid_eval (the confusion matrix).
    */
  /** The ONE DuckDB definition of [[langPred]] (the duckBandPairSql
    * rule — the scoring CASE was previously inlined in two oracles):
    * CTEs `t` (features) + `p` (doc_id, `keep`, ss, ls, pred_lang),
    * composed by the langid / eval / mix oracles. */
  private def duckLangPredCtes(keep: String): String =
    s"""t AS (
       |  SELECT doc_id, $keep,
       |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
       |         CAST(len(list_filter(string_split(text, ' '),
       |                              x -> x IN ('the', 'a', 'of'))) AS DOUBLE) AS stop_hits,
       |         CAST(length(text) AS DOUBLE) AS n_chars
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, $keep,
       |         floor(stop_hits / n_tok * 1e6) AS ss,
       |         floor(n_chars / n_tok * 1e6) AS ls,
       |         CASE WHEN floor(stop_hits / n_tok * 1e6) > 80000 THEN 'en'
       |              WHEN floor(n_chars / n_tok * 1e6) > 5200000 THEN 'de'
       |              WHEN floor(stop_hits / n_tok * 1e6) > 40000 THEN 'fr'
       |              WHEN floor(n_chars / n_tok * 1e6) > 4800000 THEN 'es'
       |              ELSE 'zh' END AS pred_lang
       |  FROM t)""".stripMargin

  private[graft] def langPred(docs: DataFrame,
      keep: Seq[String] = Seq("lang")): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val hits = (w: String) =>
      size(filter(toks, t => t === lit(w))).cast("double")
    val stopRatio = (hits("the") + hits("a") + hits("of")) / nTok
    val avgLen = length(col("text")).cast("double") / nTok
    docs
      .select(Seq(col("doc_id")) ++ keep.map(col) ++ Seq(
        floor(stopRatio * 1e6).cast("long").as("stop_score"),
        floor(avgLen * 1e6).cast("long").as("len_score")): _*)
      .withColumn("pred_lang",
        when(col("stop_score") > 80000, "en")
          .when(col("len_score") > 5200000, "de")
          .when(col("stop_score") > 40000, "fr")
          .when(col("len_score") > 4800000, "es")
          .otherwise("zh"))
  }

  /** q_text_zipf core — factored so specs can drive crafted corpora
    * through the rank/tie-break arithmetic. */
  /** q_text_stopwords core over (doc_id, text) rows: tokens whose
    * document frequency is ≥ minPpm of the corpus. Within-doc repetition
    * never inflates df (the leading per-doc distinct). */
  private[graft] def stopwordsCore(docs: DataFrame,
      minPpm: Long = 400000L): DataFrame =
    stopwordsFromDf(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .distinct()
      .groupBy("token").agg(count(lit(1)).as("df")),
      docs, minPpm)

  /** [[stopwordsCore]]'s tail over a PREBUILT per-token document-
    * frequency table — the layer-reader entry (the shared token layer's
    * rows are already distinct (doc, token), so its per-token row count
    * IS df). One definition with the from-docs form. */
  private[graft] def stopwordsFromDf(dfCounts: DataFrame, docs: DataFrame,
      minPpm: Long = 400000L): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.scalarSubquery
    dfCounts
      .withColumn("n_docs", scalarSubquery(docs.agg(count(lit(1)))))
      .withColumn("df_ppm", expr("df * 1000000 DIV n_docs"))
      .filter(col("df_ppm") >= minPpm)
      .select("token", "df", "df_ppm")
      .orderBy(col("df").desc, col("token"))
  }

  private[graft] def zipfHead(docs: DataFrame): DataFrame =
    zipfFromCounts(docs
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n")))

  /** q_text_zipf's head over a PREBUILT (token, n) count table — one
    * definition for the live query ([[zipfHead]]) and the token-layer
    * read. */
  private[graft] def zipfFromCounts(vocab: DataFrame): DataFrame =
    vocab.orderBy(col("n").desc, col("token")).limit(50)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token"))))
      .withColumn("zipf_rn", col("rank") * col("n"))
      .orderBy("rank")

  private val duckTokFp = {
    val h = duckMd5Long("t")
    s"CAST(list_aggregate(list_transform(string_split(text, ' '), t -> ($h) % 1000000007), 'sum') % 1000000007 AS BIGINT)"
  }

  def oracles: Map[String, String] = Map(
    "q_text_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |WHERE length(token) > 2
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    "q_text_tokencount" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      s"""WITH ${duckLangPredCtes("lang")}
         |SELECT doc_id, lang,
         |       CAST(ss AS BIGINT) AS stop_score,
         |       CAST(ls AS BIGINT) AS len_score, pred_lang
         |FROM p ORDER BY doc_id""".stripMargin,

    "q_text_langid_eval" ->
      s"""WITH ${duckLangPredCtes("lang")},
         |c AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2)
         |SELECT lang, pred_lang, n,
         |       CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang)
         |            AS BIGINT) AS share_ppm
         |FROM c ORDER BY lang, pred_lang""".stripMargin,

    "q_text_tok_lengths" ->
      """SELECT CAST(least(length(token), 20) AS BIGINT) AS len,
        |       count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY 1 ORDER BY len""".stripMargin,

    "q_text_quality_src" ->
      """WITH t AS (
        |  SELECT source,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_uniq,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE) AS stop_hits,
        |         CAST(length(text) AS DOUBLE) AS n_chars
        |  FROM documents),
        |q AS (
        |  SELECT source,
        |         CAST(floor((least(n_tok / 400, 1.0) * 0.25
        |                     + (n_uniq / n_tok) * 0.35
        |                     + (1.0 - stop_hits / n_tok) * 0.2
        |                     + least((n_chars - (n_tok - 1)) / n_tok / 8, 1.0) * 0.2)
        |                    * 1e6) AS BIGINT) AS q_e6
        |  FROM t),
        |c AS (SELECT source, q_e6 // 100000 AS decile, count(*) AS n
        |      FROM q GROUP BY 1, 2)
        |SELECT source, CAST(decile AS BIGINT) AS decile, n,
        |       CAST(n * 1000000 // sum(n) OVER (PARTITION BY source)
        |            AS BIGINT) AS share_ppm
        |FROM c ORDER BY source, decile""".stripMargin,

    "q_text_langid_mix" ->
      s"""WITH ${duckLangPredCtes("source")},
         |c AS (SELECT source, pred_lang, count(*) AS n FROM p GROUP BY 1, 2)
         |SELECT source, pred_lang, n,
         |       CAST(n * 1000000 // sum(n) OVER (PARTITION BY source)
         |            AS BIGINT) AS share_ppm
         |FROM c ORDER BY source, pred_lang""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_uniq,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE) AS stop_hits,
        |         CAST(length(text) AS DOUBLE) AS n_chars
        |  FROM documents)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
        |       CAST(floor(n_uniq / n_tok * 1e6) AS BIGINT) AS uniq_ratio_e6,
        |       CAST(floor((least(n_tok / 400, 1.0) * 0.25
        |                   + (n_uniq / n_tok) * 0.35
        |                   + (1.0 - stop_hits / n_tok) * 0.2
        |                   + least((n_chars - (n_tok - 1)) / n_tok / 8, 1.0) * 0.2)
        |                  * 1e6) AS BIGINT) AS quality_e6
        |FROM t ORDER BY doc_id""".stripMargin,

    // the fixture-weight linear scorer restated literally: same md5
    // bucket fold, same affine weight, same count-weighted sum
    "q_text_quality_model" ->
      s"""WITH tb AS (
         |  SELECT doc_id,
         |         ((${duckMd5Long("t")} % $QualityModelDim) * 40503 + 17)
         |           % 2001 - 1000 AS w
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |        FROM documents))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(w) AS BIGINT) AS score,
         |       sum(w) >= 0 AS keep
         |FROM tb GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // top-K piece derivation: one UNION arm per piece length (positions
    // are 1-based sliding windows, matching the engine's sequence/substr);
    // arms GENERATE from 2..MaxPiece so the oracle tracks the engine
    // constant instead of hardcoding 2/3/4 (r13 review)
    "q_text_vocab_train" -> {
      val arms = (2 to graft.functions.SubwordTokenizer.MaxPiece).map { l =>
        s"""  SELECT unnest([substr(w, CAST(i AS INT), $l)
           |                 for i in range(1, length(w) - ${l - 2})]) AS piece,
           |         n
           |  FROM w WHERE length(w) >= $l""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH w AS (
         |  SELECT lower(t) AS w, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE regexp_matches(lower(t), '^[a-z]{2,}$$') GROUP BY 1),
         |pc AS (
         |$arms),
         |top AS (
         |  SELECT piece, CAST(sum(n) AS BIGINT) AS score FROM pc
         |  GROUP BY piece ORDER BY score DESC, piece LIMIT $TrainedVocabK)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, piece)
         |            AS BIGINT) AS rank, piece, score
         |FROM top ORDER BY rank""".stripMargin
    },

    // the BPE merge loop replayed literally: one (pairs → best → rewrite)
    // CTE triple per round, GENERATED for rounds 1..BpeMerges so the
    // oracle tracks the engine constant; the double replace is the
    // engine's exact merge-application device (see bpeMergeList)
    "q_text_vocab_bpe" -> {
      // AS MATERIALIZED is load-bearing: w{k} and b{k} are each
      // referenced twice (the next round + the output arms), and an
      // inlined CTE chain re-evaluates the whole prefix per reference —
      // exponential in BpeMerges (measured: >300 s inlined vs ~1 s
      // materialized at sf0.01)
      val rounds = (1 to BpeMerges).map { k =>
        s"""p$k AS MATERIALIZED (
           |  SELECT unnest([l[i] || ' ' || l[i + 1]
           |                 for i in range(1, len(l))]) AS pair, n
           |  FROM (SELECT string_split(trim(s), ' ') AS l, n
           |        FROM w${k - 1})),
           |b$k AS MATERIALIZED (
           |  SELECT pair, CAST(sum(n) AS BIGINT) AS score FROM p$k
           |  GROUP BY 1 ORDER BY score DESC, pair LIMIT 1),
           |w$k AS MATERIALIZED (
           |  SELECT replace(replace(w${k - 1}.s,
           |           ' ' || b$k.pair || ' ',
           |           ' ' || replace(b$k.pair, ' ', '') || ' '),
           |           ' ' || b$k.pair || ' ',
           |           ' ' || replace(b$k.pair, ' ', '') || ' ') AS s, n
           |  FROM w${k - 1}, b$k)""".stripMargin
      }.mkString(",\n")
      val arms = (1 to BpeMerges).map { k =>
        s"""  SELECT CAST($k AS BIGINT) AS merge_rank,
           |         split_part(pair, ' ', 1) AS lhs,
           |         split_part(pair, ' ', 2) AS rhs,
           |         replace(pair, ' ', '') AS merged, score
           |  FROM b$k""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH wsrc AS (
         |  SELECT lower(t) AS w, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE regexp_matches(lower(t), '^[a-z]{2,}$$') GROUP BY 1),
         |w0 AS (
         |  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s, n
         |  FROM wsrc),
         |$rounds
         |SELECT * FROM (
         |$arms
         |) ORDER BY merge_rank""".stripMargin
    },

    "q_text_readability" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS n_words,
        |       greatest(1, length(text) - length(replace(text, '.', '')))
        |         AS n_sentences,
        |       len(regexp_extract_all(lower(text), '[aeiou]+'))
        |         AS n_syllables,
        |       390000 * len(string_split(text, ' '))
        |         // greatest(1, length(text) - length(replace(text, '.', '')))
        |       + 11800000 * len(regexp_extract_all(lower(text), '[aeiou]+'))
        |         // len(string_split(text, ' '))
        |       - 15590000 AS fk_e6
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_gopher" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |         CAST(length(text) - length(replace(text, '#', ''))
         |              AS BIGINT) AS n_hash,
         |         CAST((length(text) - length(replace(text, '...', ''))) // 3
         |              AS BIGINT) AS n_ellipsis,
         |         CAST(len(list_filter(string_split(text, ' '),
         |              x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
         |           AS n_alpha_words,
         |         CAST(len(list_filter(string_split(text, ' '),
         |              x -> x IN (${stopwords.map("'" + _ + "'").mkString(", ")})))
         |              AS BIGINT) AS stop_hits,
         |         CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_words, stop_hits,
         |         (n_chars - (n_words - 1)) * 1000000 // n_words AS mwl_e6,
         |         (n_hash + n_ellipsis) * 1000000 // n_words AS sym_ratio_e6,
         |         n_alpha_words * 1000000 // n_words AS alpha_frac_e6
         |  FROM t)
         |SELECT doc_id, n_words,
         |       CAST(mwl_e6 AS BIGINT) AS mwl_e6,
         |       CAST(sym_ratio_e6 AS BIGINT) AS sym_ratio_e6,
         |       CAST(alpha_frac_e6 AS BIGINT) AS alpha_frac_e6,
         |       stop_hits,
         |       (n_words BETWEEN 50 AND 100000
         |        AND mwl_e6 BETWEEN 3000000 AND 10000000
         |        AND sym_ratio_e6 <= 100000
         |        AND alpha_frac_e6 >= 800000
         |        AND stop_hits >= 2) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_text_contamination" -> {
      // mirrors DedupQueries.shingles: distinct 3-gram polynomial hashes
      // over per-token md5 hashes (TextHash.duckPoly/duckTokenHashes)
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |           [${duckPoly(3)} for i in range(1, len(ha) - 1)])) AS h
         |  FROM (SELECT doc_id, $duckTokenHashes AS ha FROM documents)),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0)
         |SELECT c.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(count(b.h) AS BIGINT) AS n_contaminated,
         |       CAST(floor(CAST(count(b.h) AS DOUBLE) /
         |                  CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT) AS contam_e6
         |FROM sh c LEFT JOIN bench b ON c.h = b.h
         |WHERE c.doc_id % 50 <> 0
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
    },

    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         len(ts) AS n_tokens,
        |         list_max(list_transform(list_distinct(ts),
        |                  w -> len(list_filter(ts, x -> x = w)))) AS top_tok_n,
        |         [ts[i] || ' ' || ts[i+1]
        |          for i in range(1, len(ts))] AS bigrams
        |  FROM t)
        |SELECT doc_id,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(top_tok_n AS BIGINT) AS top_tok_n,
        |       CAST(len(bigrams) - len(list_distinct(bigrams)) AS BIGINT)
        |         AS dup_bigram_n,
        |       CAST(floor(CAST(top_tok_n AS DOUBLE) /
        |                  CAST(n_tokens AS DOUBLE) * 1e6) AS BIGINT)
        |         AS top_frac_e6
        |FROM s ORDER BY doc_id""".stripMargin,

    // counts keyed on the raw trigram string (engine: xxhash64 of it —
    // identical counts absent a 64-bit collision)
    "q_text_dup_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |e AS (
        |  SELECT doc_id,
        |         unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
        |                 for i in range(1, len(ts) - 1)]) AS tri
        |  FROM t),
        |c AS (SELECT tri, count(*) AS c FROM e GROUP BY tri),
        |p AS (
        |  SELECT doc_id, count(*) AS n_tri,
        |         sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS dup_tri_n
        |  FROM e JOIN c USING (tri) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
        |       CAST(coalesce(dup_tri_n, 0) AS BIGINT) AS dup_tri_n,
        |       CAST(CASE WHEN coalesce(n_tri, 0) = 0 THEN 0
        |                 ELSE coalesce(dup_tri_n, 0) * 1000000 // n_tri
        |            END AS BIGINT) AS dup_frac_e6
        |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "q_text_keywords" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
        |SELECT source, token, CAST(tf AS BIGINT) AS tf,
        |       CAST(df AS BIGINT) AS df,
        |       CAST(tf * 1000000 // df AS BIGINT) AS score_e6
        |FROM tf JOIN dfreq USING (token)
        |QUALIFY row_number() OVER (PARTITION BY source
        |          ORDER BY tf * 1000000 // df DESC, token ASC) <= 5
        |ORDER BY source, token""".stripMargin,

    "q_text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |         (tf.tf * 1000000) // dfreq.df AS tfidf_e6
        |  FROM tf JOIN dfreq USING (term)),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY tfidf_e6 DESC, term ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tf, df, tfidf_e6
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin,

    "q_text_bm25" ->
      s"""WITH $DuckBm25Cte
         |SELECT doc_id, count(*) AS n_terms,
         |       TRY_CAST(sum(idf_e6 * tfn_e6) AS BIGINT) AS score_e12
         |FROM sc GROUP BY 1
         |ORDER BY sum(idf_e6 * tfn_e6) DESC, doc_id
         |LIMIT 20""".stripMargin,

    "q_text_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT sum(c) AS n_corpus FROM cnt)
        |SELECT doc_id,
        |       count(*) AS n_tokens,
        |       CAST(sum(n_corpus // c) AS BIGINT) AS surprisal_sum,
        |       CAST(sum(n_corpus // c) // count(*) AS BIGINT) AS surprisal_mean
        |FROM tok JOIN cnt USING (t), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_clean" -> {
      val markers = CleanBoilerplate
        .map(m => s"contains(lower(l), '$m')").mkString(" OR ")
      s"""WITH c AS (
         |  SELECT doc_id,
         |         len(string_split(text, chr(10))) AS n_lines,
         |         list_filter(
         |           list_transform(string_split(text, chr(10)),
         |             l -> ${duckScrubSql("l")}),
         |           l -> len(string_split(l, ' ')) >= $CleanMinLineTokens
         |                AND NOT ($markers)) AS kept
         |  FROM documents)
         |SELECT doc_id,
         |       list_aggregate(kept, 'string_agg', chr(10)) AS clean_text,
         |       CAST(n_lines AS BIGINT) AS n_lines,
         |       CAST(len(kept) AS BIGINT) AS n_lines_kept,
         |       CAST(coalesce(list_aggregate(
         |              list_transform(kept, l -> len(string_split(l, ' '))),
         |              'sum'), 0) AS BIGINT) AS n_tokens_clean
         |FROM c
         |WHERE coalesce(list_aggregate(
         |        list_transform(kept, l -> len(string_split(l, ' '))),
         |        'sum'), 0) >= $CleanMinDocTokens
         |ORDER BY doc_id""".stripMargin
    },

    "q_text_bigram_surprisal" ->
      // groups by the raw (w1, w2) strings — the engine's xxhash64 keys
      // are internal shuffle keys only, never output, so no hash needs
      // mirroring (agreement is exact modulo 64-bit collisions)
      """WITH big AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |       unnest(range(1, len(ts))) AS u(i)),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
        |uc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY w1)
        |SELECT big.doc_id,
        |       count(*) AS n_bigrams,
        |       CAST(sum(cu // cb) AS BIGINT) AS surprisal_sum,
        |       CAST(sum(cu // cb) // count(*) AS BIGINT) AS surprisal_mean
        |FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1)
        |GROUP BY big.doc_id ORDER BY big.doc_id""".stripMargin,

    // the same scrub cascade as q_text_clean, whole-text, with
    // placeholder counts by split-arity (string_split is literal, like
    // the engine's quoted split)
    "q_text_pii" ->
      s"""WITH s AS (
         |  SELECT doc_id, ${duckScrubSql("text")} AS t
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(string_split(t, '<EMAIL>')) - 1 AS BIGINT) AS n_emails,
         |       CAST(len(string_split(t, '<IP>')) - 1 AS BIGINT) AS n_ips,
         |       CAST(len(string_split(t, '<PHONE>')) - 1 AS BIGINT) AS n_phones,
         |       CAST(len(string_split(t, '<EMAIL>')) + len(string_split(t, '<IP>'))
         |            + len(string_split(t, '<PHONE>')) - 3 AS BIGINT) AS pii_total
         |FROM s ORDER BY doc_id""".stripMargin,

    // mirror of the greedy longest-match scan from the SAME piece
    // vocabulary (SubwordTokenizer.duckWordTokens — one definition)
    "q_text_subwords" ->
      s"""WITH RECURSIVE dw AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |wd AS (SELECT DISTINCT w FROM dw),
         |${graft.functions.SubwordTokenizer.duckWordTokens},
         |ds AS (
         |  SELECT doc_id, CAST(coalesce(sum(wtoks), 0) AS BIGINT) AS n_subwords
         |  FROM dw LEFT JOIN wc USING (w) GROUP BY doc_id)
         |SELECT d.doc_id, ds.n_subwords,
         |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
         |       CAST(ds.n_subwords * 1000000 // len(string_split(d.text, ' '))
         |            AS BIGINT) AS fertility_e6
         |FROM documents d JOIN ds USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // the engine keys on xxhash64(line) internally; the oracle groups by
    // the raw line strings — same sets modulo 64-bit collisions
    "q_text_dedup_lines" ->
      s"""WITH l AS (
         |  SELECT doc_id,
         |         generate_subscripts(ls, 1) AS pos,
         |         unnest(ls) AS ln
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
         |hot AS (
         |  SELECT ln AS hln FROM l
         |  GROUP BY ln HAVING count(DISTINCT doc_id) >= 2)
         |SELECT l.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       CAST(sum(CASE WHEN hot.hln IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept,
         |       coalesce(string_agg(CASE WHEN hot.hln IS NULL THEN l.ln END,
         |                           chr(10) ORDER BY l.pos), '') AS clean_text
         |FROM l LEFT JOIN hot ON l.ln = hot.hln
         |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,

    "q_text_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS content_md5,
         |       $duckTokFp AS token_fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    // same winnowing arithmetic: per-token hashes -> K-gram Rabin-Karp ->
    // key-packed (min h, max pos) per window -> distinct picks -> rollup
    "q_text_winnow" ->
      s"""WITH $duckWinnowPicks
         |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
         |       CAST(count(*) AS BIGINT) AS n_fp,
         |       CAST(sum(h) % $FpPrime AS BIGINT) AS fp_mod
         |FROM p GROUP BY doc_id, ng ORDER BY doc_id""".stripMargin,

    // same ppm-rate drift arithmetic over the even/odd source-suffix split
    "q_text_drift" ->
      s"""WITH d AS (
         |  SELECT (${SamplingQueries.DuckSrcNum}) % 2 AS grp, text
         |  FROM documents),
         |t AS (
         |  SELECT grp, unnest(string_split(text, ' ')) AS token FROM d),
         |tc AS (
         |  SELECT token,
         |         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
         |         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o2
         |  FROM t WHERE length(token) > 2 GROUP BY token),
         |n AS (SELECT CAST(sum(o1) AS BIGINT) AS n1,
         |             CAST(sum(o2) AS BIGINT) AS n2 FROM tc)
         |SELECT token, o1, o2,
         |       CAST(CASE WHEN n1 = 0 THEN 0 ELSE o1 * 1000000 // n1 END
         |            AS BIGINT) AS r1_ppm,
         |       CAST(CASE WHEN n2 = 0 THEN 0 ELSE o2 * 1000000 // n2 END
         |            AS BIGINT) AS r2_ppm,
         |       CAST(abs(CASE WHEN n1 = 0 THEN 0 ELSE o1 * 1000000 // n1 END
         |              - CASE WHEN n2 = 0 THEN 0 ELSE o2 * 1000000 // n2 END)
         |            AS BIGINT) AS drift_ppm
         |FROM tc, n
         |ORDER BY drift_ppm DESC, token ASC LIMIT 20""".stripMargin,

    // the MG sketch is engine-side pruning only — the final set is exactly
    // the tokens with true count > n/(K+1), which SQL states directly
    "q_text_heavyhitters" ->
      s"""WITH t AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |n AS (SELECT count(*) AS n FROM t),
         |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token)
         |SELECT token, CAST(cnt AS BIGINT) AS cnt
         |FROM c, n WHERE cnt * ${graft.functions.FrequentItems.K + 1} > n.n
         |ORDER BY cnt DESC, token ASC""".stripMargin,

    // per-group MG is engine-side pruning only — each source's final set
    // is exactly its true count > n_s/(K+1) tokens, stated directly
    "q_text_heavyhitters_src" ->
      s"""WITH t AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |n AS (SELECT source, count(*) AS n FROM t GROUP BY source),
         |c AS (SELECT source, token, count(*) AS cnt FROM t GROUP BY 1, 2)
         |SELECT c.source, c.token, CAST(cnt AS BIGINT) AS cnt
         |FROM c JOIN n USING (source)
         |WHERE cnt * ${graft.functions.FrequentItems.K + 1} > n.n
         |ORDER BY c.source ASC, cnt DESC, c.token ASC""".stripMargin,

    "q_text_ascii" ->
      """SELECT source,
        |       CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
        |       CAST((sum(octet_length(encode(text))) - sum(length(text)))
        |            * 1000000 // sum(octet_length(encode(text)))
        |            AS BIGINT) AS multibyte_ppm
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_text_vocab" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT token) AS BIGINT) AS n_vocab,
        |       CAST(count(DISTINCT token) * 1000000 // count(*) AS BIGINT)
        |         AS ttr_ppm
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,

    // the oracle takes the textbook vocab self-join the engine's
    // bounded per-token source-set fold replaces (fine at oracle scale)
    "q_text_vocab_overlap" ->
      """WITH sv AS (
        |  SELECT DISTINCT source, token
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
        |        FROM documents)),
        |vs AS (SELECT source, count(*) AS n FROM sv GROUP BY source),
        |px AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         count(*) AS n_shared
        |  FROM sv a JOIN sv b
        |    ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b,
        |       CAST(va.n AS BIGINT) AS n_a, CAST(vb.n AS BIGINT) AS n_b,
        |       CAST(n_shared AS BIGINT) AS n_shared,
        |       CAST(n_shared * 1000000 // (va.n + vb.n - n_shared)
        |            AS BIGINT) AS jaccard_e6
        |FROM px
        |JOIN vs va ON va.source = px.source_a
        |JOIN vs vb ON vb.source = px.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    "q_text_dedup_prefix" ->
      """SELECT array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix,
        |       count(*) AS n_docs,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM documents
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY prefix""".stripMargin,

    "q_text_stopwords" ->
      """WITH df AS (
        |  SELECT token, count(*) AS df FROM (
        |    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY token)
        |SELECT token, df,
        |       CAST(df * 1000000 // (SELECT count(*) FROM documents)
        |            AS BIGINT) AS df_ppm
        |FROM df
        |WHERE df * 1000000 // (SELECT count(*) FROM documents) >= 400000
        |ORDER BY df DESC, token""".stripMargin,

    "q_text_hapax" ->
      """WITH st AS (
        |  SELECT source, token, count(*) AS n FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY source, token)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hapax,
        |       CAST(sum(n) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
        |            // count(*) AS BIGINT) AS hapax_ppm
        |FROM st GROUP BY source ORDER BY source""".stripMargin,

    "q_text_zipf" ->
      """WITH v AS (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |t AS (SELECT token, n FROM v ORDER BY n DESC, token LIMIT 50)
        |SELECT token, n,
        |       CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
        |         AS rank,
        |       CAST(row_number() OVER (ORDER BY n DESC, token) * n AS BIGINT)
        |         AS zipf_rn
        |FROM t ORDER BY rank""".stripMargin
  )
}
