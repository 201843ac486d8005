package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.VectorFunctions.{cosine_sim, dot_product}

/** Engine-level specs: custom expression correctness, approx-distinct
  * tolerance (SURVEY.md §2.4), smoke over the full query inventory.
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("Tables memoizes the analyzed reader per (session, path) and " +
       "self-joins over the shared instance still resolve") {
    // the memo returns the SAME Dataset (schema inference paid once per
    // session — the catalog contract), so a query touching a table twice
    // composes a self-join of one instance; DeduplicateRelations must
    // re-alias it, not collapse the condition to trivially-true
    val a = Tables.customer(spark, sf)
    assert(a eq Tables.customer(spark, sf))
    val n = a.count()
    val selfJoined = a.as("l")
      .join(a.as("r"), expr("l.c_custkey = r.c_custkey"))
      .count()
    assert(selfJoined == n, s"self-join over shared reader: $selfJoined vs $n")
  }

  test("native dot_product matches the interpreted HOF fold bit-for-bit") {
    val df = Tables.embeddings(spark, sf)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .limit(100)
      .withColumn("qv", col("v"))
    val both = df.select(
      dot_product(col("v"), col("qv")).as("native"),
      aggregate(zip_with(col("v"), col("qv"), (x, y) => x * y),
                lit(0.0), (acc, x) => acc + x).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("dot_product nulls propagate; cosine of self is 1") {
    val one = Seq((Seq(1.0, 2.0, 2.0), Seq(1.0, 2.0, 2.0))).toDF("a", "b")
    val r = one.select(dot_product(col("a"), col("b")).as("d"),
                       cosine_sim(col("a"), col("b")).as("c")).first()
    assert(r.getDouble(0) == 9.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    val n = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(n.select(dot_product(col("a"), col("b"))).first().isNullAt(0))
  }

  test("dot_product is null on ragged or null-element inputs (no fake score)") {
    val ragged = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(ragged.select(dot_product(col("a"), col("b"))).first().isNullAt(0))
    val nullElem = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
    assert(nullElem.select(dot_product(col("a"), col("b"))).first().isNullAt(0))
  }

  test("SQL function builders reject wrong arity with a named analysis error") {
    GraftExtensions.register(spark)
    val e = intercept[Exception](spark.sql("SELECT dot_product(array(1.0d))").collect())
    assert(e.getMessage.contains("dot_product"), e.getMessage)
  }

  test("approx_count_distinct within ±5% of exact (q_approx_distinct)") {
    val got = SparkEntry.queries("q_approx_distinct")(spark, sf)
      .as[(String, Long)].collect().toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(countDistinct(col("l_partkey")).as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(got(k) - n).toDouble / n <= 0.05,
             s"$k: approx ${got(k)} vs exact $n")
    }
  }

  test("approx_percentile within ±2% of exact (q_approx_quantile)") {
    val got = SparkEntry.queries("q_approx_quantile")(spark, sf)
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4)).toMap
    val exact = Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("p50"),
           percentile(col("o_totalprice"), lit(0.9)).as("p90"),
           percentile(col("o_totalprice"), lit(0.99)).as("p99"))
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4)).toMap
    exact.foreach { case (k, es) =>
      got(k).zip(es).foreach { case (g, e) =>
        assert(math.abs(g - e) / e <= 0.02, s"$k: approx $g vs exact $e")
      }
    }
  }

  test("approx corpus profile matches exact except median within ±2% (q_corpus_profile_approx)") {
    // the 100 TB swap: every column but the sketch-backed median must be
    // IDENTICAL to the exact profile; the median within tolerance
    val exact = SparkEntry.queries("q_corpus_profile")(spark, sf)
      .as[(String, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    val approx = SparkEntry.queries("q_corpus_profile_approx")(spark, sf)
      .as[(String, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(a._2 == e._2 && a._3 == e._3 && a._5 == e._5,
             s"$k: non-median columns diverged: $a vs $e")
      assert(math.abs(a._4 - e._4) / e._4 <= 0.02,
             s"$k: approx median ${a._4} vs exact ${e._4}")
    }
  }

  test("pqEncode: codebook vectors self-code and reconstruct exactly (q_sim_pq)") {
    // each codebook vector's subvectors are their own sub-centroids:
    // dist |a|²+|c|²-2a·c is exactly 0.0 in IEEE when a = c, so vec j
    // must code to "j,j,j,j" and reconstruct bit-for-bit
    val enc = graft.operators.SimilarityQueries
      .pqEncode(graft.operators.SimilarityQueries.emb(spark, sf))
      .filter(col("vec_id") < 4).orderBy("vec_id").collect()
    val orig = graft.operators.SimilarityQueries.emb(spark, sf)
      .filter(col("vec_id") < 4).orderBy("vec_id")
      .select("v").collect().map(_.getSeq[Double](0))
    enc.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(1) == s"$i,$i,$i,$i", s"vec $i: ${r.getString(1)}")
      assert(r.getSeq[Double](2) == orig(i), s"vec $i reconstruction drifted")
    }
  }

  test("quantized-scan kNN agrees with exact kNN on ≥4 of top-5 (q_sim_knn_quantized)") {
    val exact = SparkEntry.queries("q_sim_knn")(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val quant = SparkEntry.queries("q_sim_knn_quantized")(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert((exact intersect quant).size >= 4,
           s"exact $exact vs quantized $quant")
  }

  test("native expressions reachable from SQL via GraftExtensions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c
        |""".stripMargin).first()
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("clean scrubs PII, drops boilerplate/short lines, and gates thin docs") {
    import spark.implicits._
    val body = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      // PII: email and a long digit run get placeholder tokens
      (1L, s"contact bob.smith+x@example.co.uk or call 12345678 now\n$body"),
      // boilerplate marker line dropped, body kept
      (2L, s"This site uses Cookie banners everywhere\n$body"),
      // short line dropped, body kept
      (3L, s"nav home about\n$body"),
      // thin doc: survives line gate but not the doc-level token gate
      (4L, "one two three four five six"),
      // all lines boilerplate → doc disappears
      (5L, "enable javascript to view\nall rights reserved 2026"),
      // IPv4 literal + parenthesized phone format on one line: the IP
      // must scrub FIRST so its octets can't seed a phone-format match
      (6L, s"ping 192.168.1.100 or (555) 123-4567 soon\n$body"),
      // +CC dotted phone format (no unbroken 7-digit run to fall back on)
      (7L, s"fax +1 555.123.4567 works fine today\n$body"),
      // bare 7-digit local number: the dash breaks the digit run, so only
      // the bare-form format rule can catch it
      (8L, s"dial 555-0123 after office hours\n$body"),
      // NON-phones that lexically brush the 3-sep-4 shape: a year range
      // (digit context blocks the bare form) and a decimal (dotted 3-4
      // requires an area-code prefix) — both must survive the scrub
      // untouched (runs past 6 digits are still PhoneRe's business)
      (9L, s"years 2020-2024 saw pi near 123.4567 last week\n$body")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextQueries.clean(docs)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 6L, 7L, 8L, 9L), out.mkString("|"))
    val d6 = out(3)
    assert(d6.getString(1).startsWith("ping <IP> or <PHONE> soon\n"), d6.getString(1))
    assert(!d6.getString(1).contains("192.168") && !d6.getString(1).contains("4567"))
    val d7 = out(4)
    assert(d7.getString(1).startsWith("fax <PHONE> works fine today\n"), d7.getString(1))
    assert(!d7.getString(1).contains("555"))
    val d8 = out(5)
    assert(d8.getString(1).startsWith("dial <PHONE> after office hours\n"), d8.getString(1))
    assert(!d8.getString(1).contains("0123"))
    val d9 = out(6)
    assert(d9.getString(1).startsWith(
      "years 2020-2024 saw pi near 123.4567 last week\n"), d9.getString(1))
    val d1 = out(0)
    assert(d1.getString(1).startsWith("contact <EMAIL> or call <PHONE> now\n"),
      d1.getString(1))
    assert(!d1.getString(1).contains("example.co") && !d1.getString(1).contains("12345678"))
    assert(d1.getLong(2) == 2 && d1.getLong(3) == 2) // both lines kept
    // doc 2 and 3: one line dropped each, the 20-token body kept
    Seq(out(1), out(2)).foreach { r =>
      assert(r.getLong(2) == 2 && r.getLong(3) == 1, r.toString)
      assert(r.getLong(4) == 20, r.toString)
    }
  }

  test("dedupLines scrubs cross-doc repeated lines, keeps in-doc repeats") {
    import spark.implicits._
    val docs = Seq(
      // "copyright acme corp" appears in docs 1 and 2 → scrubbed from both
      (1L, "unique first line\ncopyright acme corp\nunique last line"),
      (2L, "copyright acme corp\nanother unique line"),
      // an in-doc repeat is NOT cross-doc boilerplate → kept twice
      (3L, "chorus line\nchorus line\nbridge"),
      // a doc that is ALL boilerplate ends up empty but still present
      (4L, "copyright acme corp")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextQueries.dedupLines(docs)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 3L, 2L), (2L, 2L, 1L), (3L, 3L, 3L), (4L, 1L, 0L)))
    assert(out(0).getString(3) == "unique first line\nunique last line")
    assert(out(2).getString(3) == "chorus line\nchorus line\nbridge")
    assert(out(3).getString(3) == "")
  }

  test("FrequentItems (Misra-Gries): state bound, heavy-hitter guarantee, " +
       "undercount bound; the two-pass query returns exact counts") {
    import graft.functions.FrequentItems
    val K = FrequentItems.K
    // heavy item interleaved through 10×2K distinct noise items in a
    // deterministic shuffle — the eviction-pressure case
    val heavy = Seq.fill(300)("hot")
    val noise = (0 until 2 * K * 10).map(i => s"n$i")
    val stream = (heavy ++ noise).zipWithIndex
      .sortBy { case (_, i) => (i % 37, i) }.map(_._1)
    val n = stream.size.toLong
    val b = stream.foldLeft(FrequentItems.zero)(FrequentItems.reduce)
    assert(b._1.size <= K && b._2 == n)
    assert(300L * (K + 1) > n) // hot IS a guaranteed heavy hitter here
    assert(b._1.contains("hot"))
    assert(b._1("hot") <= 300 && b._1("hot") >= 300 - n / (K + 1))
    // merging partials preserves total, bound, and the guarantee
    val (s1, s2) = stream.splitAt(stream.size / 3)
    val m = FrequentItems.merge(
      s1.foldLeft(FrequentItems.zero)(FrequentItems.reduce),
      s2.foldLeft(FrequentItems.zero)(FrequentItems.reduce))
    assert(m._1.size <= K && m._2 == n)
    assert(m._1.contains("hot"))
    assert(m._1("hot") <= 300 && m._1("hot") >= 300 - n / (K + 1))
    // the two-pass operator: exactly the > n/(K+1) tokens, exact counts,
    // despite 2000 distinct tail tokens hammering the counters
    val docs = Seq(
      (1L, (Seq.fill(60)("alpha") ++ Seq.fill(55)("beta")).mkString(" ")),
      (2L, (0 until 2000).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.operators.TextQueries.heavyHitters(docs).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("alpha", 60L), ("beta", 55L)))
  }

  test("winnowPicks: rightmost-min tie rule, shared-substring guarantee, " +
       "density bounds (q_text_winnow)") {
    // (a) all grams identical ("a"×10 → 8 identical 3-gram hashes): every
    // window's min ties across all 4 members; the SIGMOD'03 rule picks the
    // RIGHTMOST, so the pick positions are exactly the window ends 4..8 —
    // a leftmost rule would pick 1..5 instead.
    val rep = Seq((1L, ("a " * 10).trim)).toDF("doc_id", "text")
    val picks1 = graft.operators.TextQueries.winnowPicks(rep)
      .select("pos").as[Long].collect().toSet
    assert(picks1 == (4L to 8L).toSet, picks1)
    // (b) the winnowing guarantee: two docs sharing a run of
    // ≥ W+K-1 = 6 tokens share ≥1 fingerprint hash, wherever the run
    // sits in each doc.
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three four five $shared six seven"),
      (2L, s"$shared red orange yellow green blue indigo")
    ).toDF("doc_id", "text")
    val p = graft.operators.TextQueries.winnowPicks(docs)
      .select("doc_id", "h").as[(Long, Long)].collect()
    val h1 = p.filter(_._1 == 1L).map(_._2).toSet
    val h2 = p.filter(_._1 == 2L).map(_._2).toSet
    assert((h1 & h2).nonEmpty, s"no shared fingerprint: $h1 vs $h2")
    // (c) density: every fixture doc picks within [1, n_windows]
    graft.operators.TextQueries.winnow(Tables.documents(spark, sf))
      .collect().foreach { r =>
        val (ng, nfp) = (r.getLong(1), r.getLong(2))
        assert(nfp >= 1 && nfp <= ng - graft.operators.TextQueries.WinnowW + 1,
          s"doc ${r.getLong(0)}: $nfp picks of $ng grams")
      }
  }

  test("drift: exact ppm rates over the even/odd source split, rank order") {
    // grp 0 totals 6 eligible tokens (aaaa×4, bbbb×2); grp 1 totals 4
    // (aaaa×1, cccc×3); "is" is length-2 noise excluded in both engines
    val docs = Seq(
      (1L, "src0", "aaaa aaaa aaaa bbbb is"),
      (2L, "src0", "aaaa bbbb"),
      (3L, "src1", "aaaa cccc cccc cccc")
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.TextQueries.drift(docs).collect()
    val m = out.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    assert(m("aaaa") == ((4L, 1L, 666666L, 250000L, 416666L)), m("aaaa"))
    assert(m("bbbb") == ((2L, 0L, 333333L, 0L, 333333L)), m("bbbb"))
    assert(m("cccc") == ((0L, 3L, 0L, 750000L, 750000L)), m("cccc"))
    assert(out.map(_.getString(0)).toSeq == Seq("cccc", "aaaa", "bbbb"))
    // a one-cohort corpus must not crash (ANSI DIV-by-zero guard): the
    // empty cohort's rates report 0 and ranking falls to the other side
    val solo = Seq((1L, "src0", "aaaa aaaa bbbb")).toDF("doc_id", "source", "text")
    val s2 = graft.operators.TextQueries.drift(solo).collect()
    assert(s2.nonEmpty && s2.forall(_.getLong(4) == 0L))
  }

  test("q_dedup_winnow: exact-content dups score Jaccard 1.0; bounds hold") {
    val rows = SparkEntry.queries("q_dedup_winnow")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    rows.foreach { case ((da, db), jac) =>
      assert(da < db, s"unordered pair ($da,$db)")
      assert(jac >= 500000L && jac <= 1000000L, s"jac $jac out of range")
    }
    // identical text ⇒ identical positions and gram hashes ⇒ identical
    // pick sets ⇒ winnowed Jaccard exactly 1e6 — every exact-content dup
    // pair must surface at full score
    val dupPairs = Tables.documents(spark, sf)
      .groupBy(md5(col("text").cast("binary")))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
      .select(col("a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    dupPairs.foreach { p => // sf0.001 plants only NEAR-dups; guard if any
      assert(rows.get(p).contains(1000000L),
        s"exact dup $p missing or sub-1.0 in winnow pairs: ${rows.get(p)}")
    }
    // the property itself, on crafted docs: identical text ⇒ identical
    // (h, pos) pick sets (⇒ winnowed Jaccard 1.0); different text ⇒ not
    val crafted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val picks = graft.operators.TextQueries.winnowPicks(crafted)
      .select("doc_id", "h", "pos")
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(r => (r.getLong(1), r.getLong(2))).toSet }
    assert(picks(1L) == picks(2L), "identical docs picked different sets")
    assert(picks(1L) != picks(3L), "distinct docs picked identical sets")
  }

  test("q_dedup_rate agrees with the corpus and the pair-level operator") {
    val r = SparkEntry.queries("q_dedup_rate")(spark, sf).collect()(0)
    val (nd, ne, nn) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nd == Tables.documents(spark, sf).count())
    val nearDocs = SparkEntry.queries("q_dedup_ngram")(spark, sf)
      .select(explode(array(col("da"), col("db"))).as("d"))
      .distinct().count()
    assert(nn == nearDocs, s"near count $nn != pair-derived $nearDocs")
    assert(r.getLong(3) == ne * 1000000 / nd)
    assert(r.getLong(4) == nn * 1000000 / nd)
  }

  test("q_dedup_source_overlap: normalized orientation, and the matrix " +
       "total equals the verified near-dup pair count") {
    val m = SparkEntry.queries("q_dedup_source_overlap")(spark, sf).collect()
    m.foreach(r => assert(r.getString(0) <= r.getString(1), r.toString))
    val total = m.map(_.getLong(2)).sum
    val pairs = SparkEntry.queries("q_dedup_ngram")(spark, sf).count()
    assert(total == pairs, s"matrix total $total != pair count $pairs")
  }

  test("q_dedup_semantic covers every vector and keeps each cluster's earliest") {
    val rows = SparkEntry.queries("q_dedup_semantic")(spark, sf).collect()
    assert(rows.length == Tables.embeddings(spark, sf).count())
    // pairwise-to-earliest pruning can never drop a cluster's first
    // vector — nothing earlier exists to beat it
    rows.groupBy(_.getLong(1)).foreach { case (cid, vs) =>
      val first = vs.minBy(_.getLong(0))
      assert(first.getBoolean(2),
        s"cluster $cid dropped its earliest vector ${first.getLong(0)}")
    }
  }

  test("q_dedup_audit invariants: hits bounded by truth and candidates") {
    val r = SparkEntry.queries("q_dedup_audit")(spark, sf).collect()(0)
    val (ns, nt, nc, nh, rec) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(ns > 0)
    assert(nh <= nt && nh <= nc, s"hits $nh exceed truth $nt or cand $nc")
    assert(rec >= 0 && rec <= 1000000, rec)
    assert(if (nt == 0) rec == 1000000 else rec == nh * 1000000 / nt)
  }

  test("piiAudit counts scrubbed entities by type") {
    import spark.implicits._
    val docs = Seq(
      // one of each, plus a digit-run phone caught by the fallback rule
      (1L, "mail a@b.co or b@c.org, host 10.0.0.1, call (555) 123-4567 or 5551234567"),
      // the scrub-order guard: an IP must not seed a phone match, and a
      // year range / decimal must not count as PII at all
      (2L, "192.168.0.1 uptime 2020-2024 pi 123.4567"),
      (3L, "no pii here at all"),
      // sentence punctuation directly after a phone must not shield it
      // (the round-10 review regression), while a digit after the dot
      // still reads as a decimal, not a phone
      (4L, "call 555-0123. or (555) 123-4567. maybe"),
      (5L, "version 555-0123.5 is not a phone")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextQueries.piiAudit(docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 2L, 5L),
      (2L, 0L, 1L, 0L, 1L),
      (3L, 0L, 0L, 0L, 0L),
      (4L, 0L, 0L, 2L, 2L),
      (5L, 0L, 0L, 0L, 0L)), out.toSeq)
  }

  test("asofNearest: backward/forward/tie/same-ms/no-signup cases") {
    val ev = Seq(
      // u1: prior Δ=3000 vs next Δ=1000 → forward wins
      (10L, 1L, 1000L, "signup"), (11L, 1L, 4000L, "purchase"),
      (12L, 1L, 5000L, "signup"),
      // u2: purchase with no signup at all → null match
      (20L, 2L, 2000L, "purchase"),
      // u3: same-ms signup resolves to the prior side (lag 0)
      (30L, 3L, 1000L, "signup"), (31L, 3L, 1000L, "purchase"),
      // u4: only a FOLLOWING signup exists → forward match
      (40L, 4L, 2000L, "purchase"), (41L, 4L, 3000L, "signup"),
      // u5: exact |Δ| tie (1000 each way) → prior (earlier) wins
      (50L, 5L, 1000L, "signup"), (51L, 5L, 2000L, "purchase"),
      (52L, 5L, 3000L, "signup")
    ).toDF("event_id", "user_id", "ems", "event_type")
    val out = graft.operators.EventTimeQueries.asofNearest(ev)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(11L) == Some(5000L), out(11L))
    assert(out(20L) == None, out(20L))
    assert(out(31L) == Some(1000L), out(31L))
    assert(out(40L) == Some(3000L), out(40L))
    assert(out(51L) == Some(1000L), out(51L))
  }

  test("asofForward: earliest at-or-after match, same-ms tie, no-future " +
       "cases") {
    import spark.implicits._
    val ev = Seq(
      // u1: prior signup invisible, next at 5000 matches
      (10L, 1L, 1000L, "signup"), (11L, 1L, 4000L, "purchase"),
      (12L, 1L, 5000L, "signup"), (13L, 1L, 9000L, "signup"),
      // u2: only a PRIOR signup → no forward match (null)
      (20L, 2L, 1000L, "signup"), (21L, 2L, 2000L, "purchase"),
      // u3: same-ms signup matches (at-or-equal from the forward side)
      (30L, 3L, 1000L, "purchase"), (31L, 3L, 1000L, "signup"),
      // u4: no signup at all
      (40L, 4L, 2000L, "purchase")
    ).toDF("event_id", "user_id", "ems", "event_type")
    val out = operators.EventTimeQueries.asofForward(ev)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(11L) == Some(5000L), out(11L)) // earliest following, not 9000
    assert(out(21L) == None, out(21L))
    assert(out(30L) == Some(1000L), out(30L))
    assert(out(40L) == None, out(40L))
  }

  test("q_dedup_semantic_trained: deterministic keeper set over the " +
       "memoized trained centroids; earliest per cluster always kept") {
    val a = SparkEntry.queries("q_dedup_semantic_trained")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val b = SparkEntry.queries("q_dedup_semantic_trained")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(a.toSeq == b.toSeq)
    // full coverage + each cluster's earliest member is never dropped
    assert(a.length ==
      SparkEntry.queries("q_dedup_semantic")(spark, sf).count())
    a.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.minBy(_._1)._3, s"cluster $c dropped its earliest")
    }
  }

  test("lastTouch attribution: horizon edge, tie, ordering, no-click cases") {
    import spark.implicits._
    val ev = Seq(
      // u1: click exactly at the 1h horizon → attributed, lag 3600000
      (10L, 1L, 1000000L, "click"), (11L, 1L, 4600000L, "purchase"),
      // u2: click 1 ms past the horizon → NOT attributed
      (20L, 2L, 999999L, "click"), (21L, 2L, 4600000L, "purchase"),
      // u3: latest of two in-horizon clicks wins; a later click and a
      // view are invisible to the purchase
      (30L, 3L, 1000L, "click"), (31L, 3L, 2000L, "click"),
      (32L, 3L, 2500L, "view"), (33L, 3L, 3000L, "purchase"),
      (34L, 3L, 4000L, "click"),
      // u4: same-ms click ties attribute at lag 0 (click sorts first)
      (40L, 4L, 5000L, "click"), (41L, 4L, 5000L, "purchase"),
      // u5: purchase with no click at all
      (50L, 5L, 7000L, "purchase")
    ).toDF("event_id", "user_id", "ems", "event_type")
    val got = operators.EventTimeQueries.lastTouch(ev).collect()
      .map(r => (r.getLong(0), Option(r.get(3)), Option(r.get(4)))).toSeq
    assert(got == Seq(
      (11L, Some(10L), Some(3600000L)),
      (21L, None, None),
      (33L, Some(31L), Some(1000L)),
      (41L, Some(40L), Some(0L)),
      (50L, None, None)), got)
  }

  test("transitions: per-user lead pairs, exact integer micro-probs") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 1000L, "a"), (2L, 1L, 2000L, "b"), (3L, 1L, 3000L, "a"),
      (4L, 2L, 1000L, "a"), (5L, 2L, 2000L, "a"),
      // u3's single event produces no transition at all
      (6L, 3L, 1000L, "b")
    ).toDF("event_id", "user_id", "ems", "event_type")
    val got = operators.EventTimeQueries.transitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", "a", 1L, 500000L), // a sources: a→a 1, a→b 1 of 2
      ("a", "b", 1L, 500000L),
      ("b", "a", 1L, 1000000L)), got.toSeq)
  }

  test("anomalyFlags: exact integer z>3 gate, full-history requirement, " +
       "boundary just under 3 sigma stays quiet") {
    import spark.implicits._
    // 24 alternating 9/11 hours (mean 10, sample sigma ~1.02), then two
    // probes: hour 24 at n=13 is z~2.94 — just UNDER the gate; hour 25 at
    // n=14 against its shifted trailing set is z~3.28 — flagged
    val hist = (0 until 24).map(i => (i.toLong, if (i % 2 == 0) 9L else 11L))
    val rows = hist ++ Seq((24L, 13L), (25L, 14L))
    val got = operators.EventTimeQueries.anomalyFlags(rows.toDF("hr", "n"))
      .select("hr", "is_anomaly").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size == 26)
    assert(!got(24L), "z~2.94 must stay under the 3-sigma gate")
    assert(got(25L), "z~3.28 must flag")
    assert((0L to 23L).forall(h => !got(h)), "cold-start hours never alert")
    // fewer than 24 trailing hours never alert, however extreme the spike
    val cold = operators.EventTimeQueries.anomalyFlags(
      Seq((0L, 10L), (1L, 10L), (2L, 1000L)).toDF("hr", "n"))
      .select("is_anomaly").collect().map(_.getBoolean(0))
    assert(cold.forall(!_))
  }

  test("bloomSeen: zero false negatives vs exact semi-join, FP bounded, " +
       "deterministic across re-evaluations") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    def run() = operators.DedupQueries.bloomSeen(corpus, batch).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val got = run()
    assert(got.size == batch.count())
    val truth = batch.join(corpus, Seq("text"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    // a Bloom filter can NEVER miss a real member
    truth.foreach(id => assert(got(id), s"false negative for doc $id"))
    // 16 bits/item ≈ 0.05% FP — allow a generous margin on the tiny batch
    val fp = got.count { case (id, seen) => seen && !truth(id) }
    assert(fp <= math.max(1, got.size / 10), s"$fp false positives of ${got.size}")
    assert(run() == got) // sketch bits are deterministic: same result
  }

  test("catalog stats sidecar: a fresh catalog RESTORES persisted stats " +
       "(tag \"stats\", correct row count, no re-ANALYZE); a fingerprint " +
       "mismatch re-analyzes and heals the sidecar (VERDICT r15 #2)") {
    val co = graft.api.CatalogOps
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // releaseFixture IS the "fresh catalog" device (r19: the bench's
    // phase re-measure uses it so catalog_analyze never times a
    // tableExists no-op) — pin that it drops every fixture table
    def dropAll(): Unit = {
      co.releaseFixture(spark, sf)
      names.foreach(n => assert(
        !spark.catalog.tableExists(co.fixtureTableName(sf, n)),
        s"releaseFixture left $n registered"))
    }
    co.registerFixture(spark, sf) // cold path: analyze + persist sidecar
    // a "fresh session" is an empty in-memory catalog — stats must come
    // back from the sidecar, not a scan
    dropAll()
    val (t2, tag2) = co.registerFixtureTagged(spark, sf)
    assert(tag2 == "stats", s"expected sidecar restore, got $tag2")
    val restored = co.statsRowCount(spark, t2("documents"))
    val real = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(restored.contains(real), s"restored $restored, real $real")
    // corrupt ONE table's persisted fingerprint → exactly that table
    // re-analyzes (tag "analyze"), and the healed sidecar restores again
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:").stripSuffix("/")
    val statsPath = s"$wh/g_stats_${co.fixtureSlug(sf)}"
    val side = spark.read.parquet(statsPath)
    val patched = side.collect().map { r =>
      if (r.getAs[String]("name") == "documents")
        org.apache.spark.sql.Row(r.get(0), "stale-fp", r.get(2), r.get(3))
      else r
    }
    spark.createDataFrame(
        java.util.Arrays.asList(patched: _*), side.schema)
      .coalesce(1).write.mode("overwrite").parquet(statsPath + "_p")
    spark.read.parquet(statsPath + "_p").coalesce(1)
      .write.mode("overwrite").parquet(statsPath)
    dropAll()
    assert(co.registerFixtureTagged(spark, sf)._2 == "analyze")
    dropAll()
    assert(co.registerFixtureTagged(spark, sf)._2 == "stats")
  }

  test("an in-place rewrite of a registered fixture table re-analyzes " +
       "the NEW files: stats and table reads see the new row count") {
    val co = graft.api.CatalogOps
    import org.apache.commons.io.FileUtils
    import java.io.File
    val dir = java.nio.file.Files.createTempDirectory("catrewrite").toFile
    FileUtils.copyDirectory(new File(sf), dir)
    val d = dir.getPath
    val t = co.fixtureTableName(d, "documents")
    try {
      co.registerFixture(spark, d) // cold: analyze + persist the sidecar
      val before = spark.table(t).count()
      // rewrite documents.parquet in place with fewer rows: new part
      // files, the old file deleted
      val side = s"$d/documents_new.parquet"
      spark.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") % 2 === 0).write.parquet(side)
      val after = spark.read.parquet(side).count()
      assert(after > 0 && after < before, s"$after vs $before")
      // the fixture table is one file; forceDelete takes a file or a dir
      FileUtils.forceDelete(new File(s"$d/documents.parquet"))
      FileUtils.moveDirectory(new File(side), new File(s"$d/documents.parquet"))
      val (_, tag) = co.registerFixtureTagged(spark, d)
      assert(tag == "analyze", tag)
      assert(co.statsRowCount(spark, t).contains(after),
        s"${co.statsRowCount(spark, t)} vs $after")
      assert(spark.table(t).count() == after)
    } finally {
      co.releaseFixture(spark, d)
      Tables.invalidate(spark, s"$d/documents.parquet")
      FileUtils.deleteDirectory(dir)
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:").stripSuffix("/")
      FileUtils.deleteDirectory(new File(s"$wh/g_stats_${co.fixtureSlug(d)}"))
    }
  }

  test("q_dedup_bloom with catalog stats: ZERO pre-scan jobs at query " +
       "construction (sketch geometry reads the metastore scalar)") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // stats present: construction must schedule no job (the count()
    // pre-scan is the thing the catalog scalar replaces)
    graft.api.CatalogOps.registerFixture(spark, sf)
    assert(graft.api.CatalogOps.statsRowCount(spark,
      graft.api.CatalogOps.fixtureTableName(sf, "documents")).isDefined)
    // warm the memoized documents reader: run in isolation, its cold
    // construction schedules a footer-listing job inside the measured
    // window — incidental, not the count() pre-scan this test pins
    Tables.documents(spark, sf)
    // drain the async listener bus before attaching: the stats-restore
    // path's tiny sidecar-read job (r16) finishes so close to this line
    // that its JobStart event can otherwise deliver to the new listener
    Thread.sleep(1500)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries("q_dedup_bloom")(spark, sf) // construct ONLY
      Thread.sleep(1500) // listener bus drains async
      assert(jobs.get() == 0, s"${jobs.get()} pre-scan jobs with stats")
      // stats absent: the count() fallback fires (≥1 job) and the query
      // still constructs — the fallback contract stays intact
      spark.sql(s"DROP TABLE IF EXISTS ${graft.api.CatalogOps
        .fixtureTableName(sf, "documents")}")
      SparkEntry.queries("q_dedup_bloom")(spark, sf)
      Thread.sleep(1500)
      assert(jobs.get() >= 1, "no fallback pre-scan without stats")
    } finally {
      sc.removeSparkListener(listener)
      graft.api.CatalogOps.registerFixture(spark, sf) // restore for peers
    }
  }

  test("q_dedup_pressure: budgets = docs minus q_dedup_ngram's greater-id " +
       "pair members per source; shares sum to ~1e6") {
    import spark.implicits._
    val redundant = SparkEntry.queries("q_dedup_ngram")(spark, sf)
      .select("db").as[Long].collect().toSet
    val srcOf = Tables.documents(spark, sf)
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val expRed = redundant.groupBy(srcOf).map { case (s, ds) => s -> ds.size }
    val rows = SparkEntry.queries("q_dedup_pressure")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4),
                 r.getLong(5)))
    rows.foreach { case (src, nDocs, nRed, budget, _) =>
      assert(nRed == expRed.getOrElse(src, 0).toLong, src)
      assert(budget == nDocs - nRed, src)
    }
    val shareSum = rows.map(_._5).sum
    // floor division: Σ share ≤ 1e6, short by at most one ppm per source
    assert(shareSum <= 1000000L && shareSum >= 1000000L - rows.length,
      shareSum.toString)
  }

  test("bm25: hand-derived integer scores; matched-both doc outranks ties") {
    import spark.implicits._
    // N=4, T=6; df(dup)=df(spark)=2 → idf_e6 = (1e6·5)//5 = 1000000;
    // tfn_e6(dl=1,tf=1) = 132e6//114 = 1157894; tfn_e6(dl=2,tf=1) =
    // 132e6//150 = 880000 — d3 matches both terms and wins, d1/d2 tie
    // broken by doc_id, d4 (no query term) is absent
    val docs = Seq(
      (1L, "dup"), (2L, "spark"), (3L, "spark dup"), (4L, "none here")
    ).toDF("doc_id", "text")
    val layer = operators.TextQueries.tokenPlanOf(docs.withColumn("source", lit("spec")))
    val got = operators.TextQueries.bm25(docs, layer).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (3L, 2L, 1760000000000L),
      (1L, 1L, 1157894000000L),
      (2L, 1L, 1157894000000L)), got)
  }

  test("subword_count: greedy longest-match over the fixture vocabulary") {
    import spark.implicits._
    import graft.functions.expressions.SubwordFunctions.subword_count
    // hand-tokenized pins: "the"→[the]; "theory"→[the|or|y];
    // "with"→[with] (quad beats nested bigrams); "nation"→[n|at|ion]
    // (no 'na' piece; longest-match picks 'ion' over 'io');
    // "xyzzy"→5 singles (nothing matches); non-ASCII code points are one
    // piece each ("日本 ab"→[日|本|a|b] — no 'ab' piece); runs of spaces
    // cost nothing; the empty string is zero pieces
    val got = Seq("the", "theory", "with", "nation", "xyzzy", "日本 ab",
        "a  b", "")
      .toDF("s").select(subword_count($"s").as("n")).as[Long].collect()
    assert(got.toSeq == Seq(1L, 3L, 1L, 3L, 5L, 4L, 2L, 0L), got.toSeq)
    // the SQL surface (GraftExtensions) evaluates the same expression
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT subword_count('the theory')").first().getLong(0) == 4L)
    // piece coverage bound: every piece spans ≤4 chars, so a real doc's
    // count is at least ceil(non-space-chars/4) — the old estimate was a
    // lower bound of the real tokenization, never the other way around
    val doc = Tables.documents(spark, sf).select($"text").as[String].head()
    val pieces = graft.functions.SubwordTokenizer
      .count(org.apache.spark.unsafe.types.UTF8String.fromString(doc))
    val nonSpace = doc.count(_ != ' ').toLong
    assert(pieces >= (nonSpace + 3) / 4 && pieces <= nonSpace)
  }

  test("pack/chunk budget invariants hold across the fixture corpus") {
    import spark.implicits._
    // q_pack_docs: exclusive-prefix packing means a pack can exceed the
    // 2048-subword budget only by its LAST doc's size — never by more
    val packs = SparkEntry.queries("q_pack_docs")(spark, sf)
      .select($"pack_subwords").as[Long].collect()
    val maxDocSub = Tables.documents(spark, sf)
      .select(graft.functions.expressions.SubwordFunctions
        .subword_count($"text").as("s"))
      .agg(max($"s")).as[Long].head()
    assert(packs.forall(_ < 2048 + maxDocSub),
      s"pack overflow beyond one straddling doc: max=${packs.max}, doc max=$maxDocSub")
    // q_chunk_docs: stride-40 windows of up to 50 tokens must tile every
    // doc exactly — chunk count = floor((len-1)/40)+1, every chunk 1..50
    // tokens, and the last chunk reaches the document's end
    val chunks = SparkEntry.queries("q_chunk_docs")(spark, sf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("chunk_id").as("last_id"),
           max("n_chunk_tokens").as("max_ct"), min("n_chunk_tokens").as("min_ct"))
    val lens = Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("len"))
    val joined = chunks.join(lens, "doc_id").collect()
    joined.foreach { r =>
      val (n, lastId, maxCt, minCt, len) =
        (r.getAs[Long]("n"), r.getAs[Long]("last_id"), r.getAs[Long]("max_ct"),
         r.getAs[Long]("min_ct"), r.getAs[Long]("len"))
      assert(n == (len - 1) / 40 + 1, s"chunk count off: $r")
      assert(lastId == n - 1 && maxCt <= 50 && minCt >= 1, s"chunk shape off: $r")
      // the final chunk's slice [last_id*40+1, +50) must reach len
      assert(lastId * 40 + 1 + 50 > len, s"doc tail uncovered: $r")
    }
  }

  test("gapHistogram: decade-edge buckets, integer mean, single-event " +
       "users contribute no gap") {
    import spark.implicits._
    val ev = Seq(
      // u1: gaps 500 (bucket 0), 4500 (bucket 1), and exactly 60000 —
      // the <60000 edge is exclusive, so it lands in bucket 3
      (1L, 1L, 0L), (2L, 1L, 500L), (3L, 1L, 5000L), (4L, 1L, 65000L),
      // u2: a single event produces no gap at all
      (10L, 2L, 7777L),
      // u3: a 25-hour gap lands in the ≥1d tail bucket
      (20L, 3L, 0L), (21L, 3L, 90000000L),
      // u4: two more bucket-1 gaps so the mean exercises floor division
      (30L, 4L, 0L), (31L, 4L, 1000L), (32L, 4L, 3001L)
    ).toDF("event_id", "user_id", "ems")
    val got = operators.EventTimeQueries.gapHistogram(ev).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(5))).toSeq
    assert(got == Seq(
      (0, 1L, 500L, 500L),
      (1, 3L, 7501L, 2500L), // 7501 DIV 3 = 2500 (floor)
      (3, 1L, 60000L, 60000L),
      (6, 1L, 90000000L, 90000000L)), got)
  }

  test("epochSchedule: exact temperature targets, 4-epoch cap, realized " +
       "allocation") {
    import spark.implicits._
    // sqrt weights 10000/20000/50000 → e3 shares 125/250/625, ntot=3000,
    // T=9000 → targets 1125/2250/5625; A and B overshoot 4 epochs (cap)
    val tok = Seq(("A", 100L), ("B", 400L), ("C", 2500L)).toDF("source", "t")
    val got = operators.SamplingQueries.epochSchedule(tok).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(got == Seq(
      ("A", 100L, 125L, 1125L, 4000L, 400L, true),
      ("B", 400L, 250L, 2250L, 4000L, 1600L, true),
      ("C", 2500L, 625L, 5625L, 2250L, 5625L, false)), got)
  }

  test("zipfHead: count-desc/token-asc rank, zipf product, head cap") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c"), (2L, "b c c d")).toDF("doc_id", "text")
    val got = operators.TextQueries.zipfHead(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    // a/b/c all count 3 — rank resolves by token asc; d trails at count 1
    assert(got == Seq(
      ("a", 3L, 1, 3L), ("b", 3L, 2, 6L), ("c", 3L, 3, 9L),
      ("d", 1L, 4, 4L)), got)
    val fifty = (1 to 60).map(i => (i.toLong, s"tok$i")).toDF("doc_id", "text")
    assert(operators.TextQueries.zipfHead(fifty).count() == 50)
  }

  test("q_dedup_thresholds: monotone sweep, agrees with the pair-level " +
       "operators at 0.8") {
    val rows = SparkEntry.queries("q_dedup_thresholds")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(500000L, 600000L, 700000L, 800000L,
      900000L).filter(t => rows.exists(_._1 == t)))
    // pair and doc counts can only shrink as the threshold rises
    rows.sliding(2).foreach {
      case Array((_, p1, d1), (_, p2, d2)) =>
        assert(p1 >= p2 && d1 >= d2, rows.toSeq)
      case _ =>
    }
    // the 0.8 row restates q_dedup_ngram (pairs) and q_dedup_rate (docs)
    val at08 = rows.find(_._1 == 800000L)
    val ngramPairs = SparkEntry.queries("q_dedup_ngram")(spark, sf).count()
    val nearDocs = SparkEntry.queries("q_dedup_rate")(spark, sf)
      .select("n_near_dup").collect().head.getLong(0)
    assert(at08.map(_._2).getOrElse(0L) == ngramPairs, (at08, ngramPairs))
    assert(at08.map(_._3).getOrElse(0L) == nearDocs, (at08, nearDocs))
  }

  test("q_dedup_keeper: per-cluster argmax quality with lowest-doc_id " +
       "ties, consistent with q_dedup_cluster membership") {
    val members = SparkEntry.queries("q_dedup_cluster")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))) // (doc_id, cluster_id)
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val qual = SparkEntry.queries("q_text_quality")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap // doc_id -> quality_e6
    val keepers = SparkEntry.queries("q_dedup_keeper")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(keepers.map(_._1).toSet == members.keySet) // same cluster set
    keepers.foreach { case (c, n, keeper, kq) =>
      val ms = members(c)
      assert(n == ms.size && ms.contains(keeper), (c, n, ms))
      val best = ms.map(qual).max
      assert(kq == best, (c, kq, best))
      // ties break to the LOWEST doc_id among max-quality members
      assert(keeper == ms.filter(qual(_) == best).min, (c, keeper))
    }
  }

  test("IvfOps.assign keepScore: csim is the winning cosine; cid " +
       "unchanged vs the default form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (10L, Seq(0.6, 0.8)),  // cos 0.6 to c1, 0.8 to c2 → c2 wins
      (11L, Seq(1.0, 0.0)),  // exactly on c1
      (12L, Seq(-1.0, 0.0))  // cos -1 to c1, 0 to c2 → c2 at csim 0
    ).toDF("vec_id", "v0")
      .select(col("vec_id"), transform(col("v0"), x => x.cast("double")).as("v"))
    val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("cid", "v0")
      .select(col("cid"), transform(col("v0"), x => x.cast("double")).as("v"))
    val block = api.IvfOps.centroidBlock(cents)
    val got = api.IvfOps.assign(vecs, block, nProbe = 1, keepScore = true)
      .select("vec_id", "cid", "csim").collect()
      .map(r => (r.getLong(0), r.getLong(1),
                 math.rint(r.getDouble(2) * 1e9) / 1e9)).toSeq.sortBy(_._1)
    assert(got == Seq((10L, 2L, 0.8), (11L, 1L, 1.0), (12L, 2L, 0.0)), got)
    val plain = api.IvfOps.assign(vecs, block, nProbe = 1)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(plain == got.map(t => (t._1, t._2)), plain)
  }

  test("q_session_stats restates q_session_windows: session and event " +
       "totals agree across the histogram") {
    val sess = SparkEntry.queries("q_session_windows")(spark, sf).collect()
    val stats = SparkEntry.queries("q_session_stats")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    assert(stats.map(_._2).sum == sess.length.toLong, stats.toSeq)
    assert(stats.map(_._3).sum == sess.map(_.getLong(3)).sum, stats.toSeq)
    // bucket 0 is SINGLE-EVENT sessions (n = 1), not zero-duration: a
    // same-ms multi-event burst must land in a duration cell instead
    val single = sess.count(_.getLong(3) == 1L).toLong
    assert(stats.find(_._1 == 0).map(_._2).getOrElse(0L) == single, stats.toSeq)
  }

  test("q_text_langid_eval restates q_text_langid: cell counts, row " +
       "coverage, exact ppm shares") {
    val preds = SparkEntry.queries("q_text_langid")(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(4)))
    val expect = preds.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cells = SparkEntry.queries("q_text_langid_eval")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
    assert(cells.map(_._2._1).sum == preds.length.toLong)
    assert(cells.map(_._1).toSet == expect.keySet)
    cells.foreach { case (k, (n, ppm)) =>
      assert(expect(k) == n, (k, n))
      val rowTot = expect.collect { case ((l, _), c) if l == k._1 => c }.sum
      assert(ppm == n * 1000000L / rowTot, (k, ppm))
    }
  }

  test("q_pipeline_eval: exactly k clean, quality-gated, deterministic " +
       "docs — no benchmark member, no contaminated doc") {
    val rows = SparkEntry.queries("q_pipeline_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 50, rows.length)
    assert(rows.forall(_._1 % 50 != 0), "benchmark doc leaked")
    assert(rows.forall(_._2 >= 450000L), "quality gate breached")
    val contam = SparkEntry.queries("q_text_contamination")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { case (id, _) =>
      assert(contam.getOrElse(id, 0L) == 0L, s"doc $id is contaminated")
    }
    // re-evaluation returns the identical set (determinism contract)
    val again = SparkEntry.queries("q_pipeline_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq == rows.toSeq)
  }

  test("normProfile: zero/sub-unit/unit/inflated vectors land in their " +
       "cells (fixture exercises one)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      Seq.fill(4)(0.0),                 // bucket 0: zero vector
      Seq(0.5, 0.0, 0.0, 0.0),          // n² = 0.25 → bucket 1
      Seq(1.0, 0.0, 0.0, 0.0),          // n² = 1 → bucket 2
      Seq(2.0, 0.0, 0.0, 0.0),          // n² = 4 → bucket 3
      Seq(9.0, 9.0, 0.0, 0.0)           // n² = 162 → bucket 4
    ).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v0")
      .select(col("vec_id"),
        transform(col("v0"), x => x.cast("double")).as("v"))
    val got = operators.SimilarityQueries.normProfile(vecs).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((0, 1L), (1, 1L), (2, 1L), (3, 1L), (4, 1L)), got)
  }

  test("q_text_ascii arithmetic: multibyte excess is bytes minus chars " +
       "(exact, per the UTF-8 rule)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 'é' = 2 bytes, '中' = 3 bytes, ascii = 1 — excess 0 / 1 / 2 per char
    val docs = Seq(("s1", "abc"), ("s1", "café"), ("s2", "中文"))
      .toDF("source", "text")
    val got = docs
      .select(col("source"),
        length(col("text")).cast("long").as("chars"),
        octet_length(col("text").cast("binary")).cast("long").as("bytes"))
      .groupBy("source")
      .agg(sum("chars").as("c"), sum("bytes").as("b"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("s1", 7L, 8L), ("s2", 2L, 6L)), got)
  }

  test("benford: exact digit extraction from cents, baked expectation " +
       "table, exact ppm shares") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // first digits: 123.45→1, 0.05→5 (cents=5), 987.65→9, 19.99→1,
    // 100.00→1 — digit comes from the cents STRING, never log10
    val df = Seq(123.45, 0.05, 987.65, 19.99, 100.00).toDF("m")
    val got = operators.StatsQueries.benford(df, "m").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, 3L, 600000L, 301029L),   // 3 of 5 → exactly 600000 ppm
      (5, 1L, 200000L, 79181L),
      (9, 1L, 200000L, 45757L)), got.toSeq)
    // the expectation table is a probability distribution: ppm sums to
    // 1e6 - 5 (floor losses), pinning the baked literals
    val e = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L,
      57991L, 51152L, 45757L)
    assert(e.sum == 999995L, e.sum)
  }

  test("concentration: top-k block past the k edge, exact share_e6") {
    import spark.implicits._
    // user 0: 10 events; users 1..54: 1 each → 55 users, 64 events.
    // top-50 = user 0 + 49 singles = 59 events; share = 59e6 DIV 64.
    val ev = (Seq.fill(10)(0L) ++ (1L to 54L)).map(Tuple1(_))
      .toDF("user_id")
    val got = operators.EventTimeQueries.concentration(ev, 50).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)) == (55L, 64L, 50L, 59L, 59L * 1000000L / 64L), r)
  }

  test("emergencyReport: squawk set + flag counts, sorted squawks, " +
       "non-emergency aircraft absent") {
    import spark.implicits._
    val p = Seq(
      // a1: two emergency squawks out of order + one alert-only row
      ("A1", "7700", 0, 0, 1000L), ("A1", "7500", 0, 1, 2000L),
      ("A1", null, 1, 0, 3000L),
      // a2: clean aircraft — must not appear
      ("A2", "1200", 0, 0, 1500L),
      // a3: flag-only emergency (no emergency squawk) → empty squawks
      ("A3", "1200", 0, 1, 4000L)
    ).toDF("hex_ident", "squawk", "alert", "emergency", "ems")
    val got = operators.Sbs1Queries.emergencyReport(p).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getString(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("A1", 3L, 1L, 1L, "7500,7700", 1000L, 3000L),
      ("A3", 1L, 0L, 1L, "", 4000L, 4000L)), got)
  }

  test("q_emb_thresholds: monotone sweep, agrees with q_dedup_embed at " +
       "the 0.45 cutoff") {
    val rows = SparkEntry.queries("q_emb_thresholds")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.sliding(2).foreach {
      case Array((_, p1, v1), (_, p2, v2)) =>
        assert(p1 >= p2 && v1 >= v2, rows.toSeq)
      case _ =>
    }
    val at45 = rows.find(_._1 == 450000000L).map(_._2).getOrElse(0L)
    val embedPairs = SparkEntry.queries("q_dedup_embed")(spark, sf).count()
    assert(at45 == embedPairs, (at45, embedPairs))
  }

  test("gini: exact integer coefficient on crafted masses, zero when " +
       "balanced") {
    import spark.implicits._
    // masses 1 and 3: G = (2·(1·1+2·3) − 3·4) / (2·4) = 2/8 → 250000 ppm
    val skew = Seq(("a", 1L), ("b", 3L)).toDF("source", "toks")
    val g1 = operators.SamplingQueries.gini(skew).collect().head
    assert((g1.getLong(0), g1.getLong(1), g1.getLong(2)) ==
      (2L, 4L, 250000L), g1)
    // equal masses → exactly 0
    val flat = Seq(("a", 5L), ("b", 5L), ("c", 5L)).toDF("source", "toks")
    assert(operators.SamplingQueries.gini(flat).collect().head.getLong(2)
      == 0L)
    // extreme skew approaches (n−1)/n: masses (0-free) 1,1,998 over n=3
    // → G = (2·(1+2+3·998)−4·1000)/(3·1000) = (5994−4000)/3000 → 664666
    val hot = Seq(("a", 1L), ("b", 1L), ("c", 998L)).toDF("source", "toks")
    assert(operators.SamplingQueries.gini(hot).collect().head.getLong(2)
      == 664666L)
  }

  test("diversityHistogram: Simpson ppm deciles — single-type user at 0, " +
       "balanced two-type user at decile 5") {
    import spark.implicits._
    val e = Seq(
      // user 1: 4 events of one type → div 0, decile 0
      (1L, "a"), (1L, "a"), (1L, "a"), (1L, "a"),
      // user 2: 2+2 of two types → 1e6 − 8·1e6/16 = 500000 → decile 5
      (2L, "a"), (2L, "a"), (2L, "b"), (2L, "b"),
      // user 3: single event → div 0 joins decile 0
      (3L, "c")
    ).toDF("user_id", "event_type")
    val got = operators.EventTimeQueries.diversityHistogram(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 2L, 5L), (5L, 1L, 4L)), got)
  }

  test("q_emb_recall: internal consistency, exact recall arithmetic, " +
       "deterministic re-run") {
    def run() = SparkEntry.queries("q_emb_recall")(spark, sf).collect().head
    val r = run()
    val (sampled, nTrue, nCand, nHit, recall) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(sampled > 0 && sampled <= Tables.embeddings(spark, sf).count())
    assert(nHit <= nTrue && nHit <= nCand, r)
    val expect = if (nTrue > 0) nHit * 1000000L / nTrue else 1000000L
    assert(recall == expect, r)
    assert(run() == r) // hash-sample + set arithmetic: fully deterministic
  }

  test("burstHistogram: power-of-two cells, peak from a single bucket") {
    import spark.implicits._
    val e = Seq(
      // u1: 20 events inside one 5-min bucket → peak 20 → cell 4
      (1L to 20L).map(i => (1L, 1000L + i)),
      // u2: 3 events split 2+1 across buckets → peak 2 → cell 1
      Seq((2L, 1000L), (2L, 2000L), (2L, 300001L)),
      // u3: single event → peak 1 → cell 0
      Seq((3L, 1000L))
    ).flatten.toDF("user_id", "ems")
    val got = operators.EventTimeQueries.burstHistogram(e).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0, 1L, 1L), (1, 1L, 2L), (4, 1L, 20L)), got)
  }

  test("newVsReturning: first-day users are new, later days returning") {
    import spark.implicits._
    val day = 86400000L
    val e = Seq(
      (1L, 0L), (1L, day + 1), // u1: new day 0, returning day 1
      (2L, day + 2), (2L, day + 3), // u2: new day 1 (two events, one user)
      (3L, 0L) // u3: new day 0 only
    ).toDF("user_id", "ems")
    val got = operators.EventTimeQueries.newVsReturning(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 2L, 2L, 0L), (1L, 2L, 1L, 1L)), got.toSeq)
  }

  test("dimProfile: dead dim reads all-zero, stuck dim has min=max, " +
       "exact quantized sums") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // dim 0 dead (all 0), dim 1 stuck at 0.5, dim 2 mixed {1.0, -1.0}
    val e = Seq(
      Seq(0.0f, 0.5f, 1.0f), Seq(0.0f, 0.5f, -1.0f)
    ).map(Tuple1(_)).toDF("embedding")
    val got = operators.SimilarityQueries.dimProfile(e).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4),
                 r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      (0, 2L, 0L, 2L, 0L, 0L),             // dead: sum 0, both zero
      (1, 2L, 1000000L, 0L, 500000L, 500000L), // stuck: min == max
      (2, 2L, 0L, 0L, -1000000L, 1000000L)), got)
  }

  test("stopwordsCore: DF threshold edge inclusive, within-doc repeats " +
       "never inflate df") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the alpha"), // 'the' ×3 in one doc: df contribution 1
      (2L, "the beta"),
      (3L, "gamma"), (4L, "delta"), (5L, "eps")
    ).toDF("doc_id", "text")
    // 'the' df=2 of 5 → exactly 400000 ppm: the ≥ edge keeps it;
    // every other token df=1 (200000) is out
    val got = operators.TextQueries.stopwordsCore(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("the", 2L, 400000L)), got)
  }

  test("q_text_dedup_prefix semantics on crafted captures: truncation " +
       "pair collides, divergent tails collide, short capture does not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      // 1+2: same page, different cut-offs past the 8-token head
      (1L, "a b c d e f g h i j k l m n"),
      (2L, "a b c d e f g h i j"),
      // 3: same head, divergent tail (template page) — also groups
      (3L, "a b c d e f g h zz zz"),
      // 4: a 5-token capture of the same page — below the probe window,
      // documented non-match
      (4L, "a b c d e"),
      (5L, "totally different text")
    ).toDF("doc_id", "text")
    val got = docs
      .select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"),
           max("doc_id").as("last_doc"))
      .filter(col("n_docs") >= 2).orderBy("prefix").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a b c d e f g h", 3L, 1L, 3L)), got.toSeq)
  }

  test("damerau_levenshtein: UNRESTRICTED variant pinned, null-safe, " +
       "SQL-registered, symmetric, bounded by levenshtein") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.StringMetrics.damerau
    // the variant-distinguishing case: unrestricted DL edits a transposed
    // block again (2); optimal-string-alignment would say 3 — this pins
    // agreement with DuckDB's damerau_levenshtein
    assert(damerau("ca", "abc") == 2)
    assert(damerau("ab", "ba") == 1)
    assert(damerau("abcdef", "abcfed") == 2)
    assert(damerau("kitten", "sitting") == 3)
    assert(damerau("", "abc") == 3 && damerau("abc", "") == 3)
    assert(damerau("same", "same") == 0)
    // codegen + eval paths through the Column API, incl. null propagation
    import graft.functions.expressions.StringFunctions.damerau_levenshtein
    val rows = Seq(("ca", Some("abc")), ("ab", Some("ba")),
      ("x", Option.empty[String])).toDF("a", "b")
      .select(damerau_levenshtein($"a", $"b").as("d"))
      .as[Option[Int]].collect().toSeq
    assert(rows == Seq(Some(2), Some(1), None), rows)
    // SQL surface via the extensions registry
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT damerau_levenshtein('ca', 'abc')")
      .first().getInt(0) == 2)
    // properties over random strings: identity, symmetry, and the
    // built-in levenshtein (no transpositions) as an upper bound
    val rnd = new scala.util.Random(7)
    def rs() = (0 until rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    (1 to 200).foreach { _ =>
      val (x, y) = (rs(), rs())
      val d = damerau(x, y)
      assert(damerau(x, x) == 0)
      assert(d == damerau(y, x), s"asymmetric on '$x' '$y'")
      val lev = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(x, y)
      assert(d <= lev, s"'$x' '$y': DL $d > lev $lev")
      assert(d >= math.abs(x.length - y.length))
    }
  }

  test("q_dedup_typo_clusters: every typo pair shares an entity, every " +
       "entity has >= 2 members, sizes consistent") {
    val pairs = SparkEntry.queries("q_dedup_typos")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = SparkEntry.queries("q_dedup_typo_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val entity = rows.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(entity(a) == entity(b), s"pair ($a, $b) split across entities")
    }
    val sizes = rows.groupBy(_._2).view.mapValues(_.length).toMap
    rows.foreach { case (p, e, n) =>
      assert(n == sizes(e) && n >= 2, s"part $p entity $e size $n")
    }
  }

  test("q_mm_hamming_thresholds: monotone sweep, agrees with q_mm_phash " +
       "at the max-hamming cutoff") {
    val rows = SparkEntry.queries("q_mm_hamming_thresholds")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.sliding(2).foreach {
      case Array((_, p1, m1), (_, p2, m2)) =>
        assert(p1 <= p2 && m1 <= m2, rows.toSeq) // ascending thresholds
      case _ =>
    }
    val at6 = rows.find(_._1 == 6L).map(_._2).getOrElse(0L)
    val phashPairs = SparkEntry.queries("q_mm_phash")(spark, sf).count()
    assert(at6 == phashPairs, (at6, phashPairs))
  }

  test("q_pipeline_funnel: monotone stages, final count restates " +
       "q_pipeline_corpus, ppm shares sum to the total drop") {
    val r = SparkEntry.queries("q_pipeline_funnel")(spark, sf).collect().head
    val (n0, n1, n2, n3) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n0 >= n1 && n1 >= n2 && n2 >= n3 && n3 > 0, r)
    val corpus = SparkEntry.queries("q_pipeline_corpus")(spark, sf).count()
    assert(n3 == corpus, (n3, corpus))
    val (p1, p2, p3) = (r.getLong(4), r.getLong(5), r.getLong(6))
    assert(p1 == (n0 - n1) * 1000000L / n0)
    assert(p2 == (n1 - n2) * 1000000L / n0)
    assert(p3 == (n2 - n3) * 1000000L / n0)
  }

  test("q_text_langid_mix: cells cover every source's docs, shares are " +
       "exact per-source ppm") {
    val rows = SparkEntry.queries("q_text_langid_mix")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val bySrc = rows.groupBy(_._1)
    val docCounts = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.keySet == docCounts.keySet)
    bySrc.foreach { case (src, cells) =>
      val tot = cells.map(_._3).sum
      assert(tot == docCounts(src), s"$src covers $tot of ${docCounts(src)}")
      cells.foreach { case (_, _, n, ppm) =>
        assert(ppm == n * 1000000L / tot)
      }
    }
  }

  test("q_text_readability: hand-derived Flesch-Kincaid integers") {
    import spark.implicits._
    // "the cat sat." → words=3 (trailing-empty token from the final
    // period's split? no — '.' is not a separator, so 3 space-separated
    // tokens), sentences=1 ('.' count), vowel groups: e,a,a → 3;
    // fk_e6 = 390000·3/1 + 11800000·3/3 − 15590000 = 1170000+11800000
    //         −15590000 = −2620000.
    // "ab" → words=1, sentences=greatest(1,0)=1, syllables=1;
    // fk_e6 = 390000 + 11800000 − 15590000 = −3400000.
    // "aa ee ii. oo." → words=4, sentences=2, syllables=4;
    // fk_e6 = 390000·4/2 + 11800000·4/4 − 15590000 = 780000+11800000
    //         −15590000 = −3010000.
    val dir = java.nio.file.Files.createTempDirectory("readab").toString
    Seq((1L, "the cat sat."), (2L, "ab"), (3L, "aa ee ii. oo."))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_text_readability")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 3L, 1L, 3L, -2620000L),
      (2L, 1L, 1L, 1L, -3400000L),
      (3L, 4L, 2L, 4L, -3010000L)), got)
  }

  test("q_text_gopher: hand-derived rule-bundle integers") {
    import spark.implicits._
    // doc 1 passes every rule: "the and " + 48×"fox" → 50 words,
    //   chars 199, word chars 199−49=150, mwl_e6 = 150e6/50 = 3000000
    //   (the inclusive lower bound), sym 0, alpha 50/50, stops 2.
    // doc 2 fails on size AND mean word length: 3 words;
    //   mwl_e6 = (9−2)e6/3 = 2333333.
    // doc 3 fails ONLY on symbols: 48×"f#n" → n_hash 48,
    //   sym_ratio_e6 = 48e6/50 = 960000 > 100000; mwl unchanged.
    // doc 4 exercises the ellipsis counter: "a... b... the of x" →
    //   5 words, chars 18, word chars 14 → mwl_e6 2800000,
    //   n_ellipsis 2 → sym_ratio_e6 400000, stops 2 (the, of).
    // doc 5 isolates the R1 word-count bound: 40 words, every OTHER
    //   rule passes (chars 159, word chars 120 → mwl_e6 3000000, sym 0,
    //   alpha 40/40, stops 2) — only n_words < 50 gates it.
    val dir = java.nio.file.Files.createTempDirectory("gopher").toString
    Seq((1L, "the and " + Seq.fill(48)("fox").mkString(" ")),
        (2L, "ab cd the"),
        (3L, "the and " + Seq.fill(48)("f#n").mkString(" ")),
        (4L, "a... b... the of x"),
        (5L, "the and " + Seq.fill(38)("fox").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_text_gopher")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(got == Seq(
      (1L, 50L, 3000000L,      0L, 1000000L, 2L, true),
      (2L,  3L, 2333333L,      0L, 1000000L, 1L, false),
      (3L, 50L, 3000000L, 960000L, 1000000L, 2L, false),
      (4L,  5L, 2800000L, 400000L, 1000000L, 2L, false),
      (5L, 40L, 3000000L,      0L, 1000000L, 2L, false)), got)
  }

  test("resizeGray: nearest-neighbour grid math, tall and wide sources") {
    import graft.functions.MediaCodec
    // 8×16 source, gray(i) = i: out cell k samples row (k/8)·16/8 = 2·(k/8),
    // col k%8 → value 16·(k/8) + k%8 (every second source row)
    val tall = MediaCodec.encodeBmp24(Array.tabulate(128)(identity), 8, 16)
    val rt = MediaCodec.resizeGray(tall, 8, 8).get
    (0 until 64).foreach(k => assert(rt(k) == 16 * (k / 8) + k % 8, s"tall $k"))
    // 16×8 source: out cell k samples row k/8, col 2·(k%8)
    //   → value 16·(k/8) + 2·(k%8) (every second source column)
    val wide = MediaCodec.encodeBmp24(Array.tabulate(128)(identity), 16, 8)
    val rw = MediaCodec.resizeGray(wide, 8, 8).get
    (0 until 64).foreach(k => assert(rw(k) == 16 * (k / 8) + 2 * (k % 8),
                                     s"wide $k"))
    // WAV bytes drop out, matching decode()
    assert(MediaCodec.resizeGray(
      MediaCodec.encodeWavPcm16(Array[Short](1, 2), 16000), 8, 8).isEmpty)
  }

  test("q_mm_resize: hand-derived thumbnail stats over a 16-byte image") {
    import spark.implicits._
    // doc_id=3 (% 3 == 0 → image), 16 chars "abcdefghijklmnop" → h = 2,
    // grid rows a..h / i..p; the 8×8 resize maps output rows 0-3 to
    // source row 0 and 4-7 to row 1 → resized(k) = 'a'+k%8 (k<32),
    // 'i'+k%8 (k≥32). px_sum = 4·Σ(97..112) = 6688; the checksum is the
    // Rabin–Karp fold recomputed here from the TextHash constants —
    // an independent restatement, not a call into the engine's weights.
    val dir = java.nio.file.Files.createTempDirectory("mmres").toString
    Seq((3L, "abcdefghijklmnop", "en", "web", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pw = Array.iterate(1L, 64)(x =>
      x * graft.functions.TextHash.PolyB % graft.functions.TextHash.FpPrime)
    val want = (0 until 64).map { k =>
      val v = (if (k < 32) 'a' + k % 8 else 'i' + k % 8).toLong
      v * pw(k)
    }.sum % graft.functions.TextHash.FpPrime
    val got = SparkEntry.queries("q_mm_resize")(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6)) ==
           (3L, 8L, 8L, 6688L, 97L, 112L, want), r)
  }

  test("q_dedup_eval_leakage restates q_dedup_embed's cross-cohort pairs") {
    val pairs = SparkEntry.queries("q_dedup_embed")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = pairs.filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, v) => if (a % 2 == 1) (a, b, v) else (b, a, v) }
      .sortBy(t => (t._1, t._2)).toSeq
    val got = SparkEntry.queries("q_dedup_eval_leakage")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got.nonEmpty) // the fixture DOES have cross-cohort leaks
  }

  test("jumpReport: crafted track flags only the teleport leg") {
    import spark.implicits._
    import graft.operators.Sbs1Queries
    // binary-exact coordinates so the e6 quantization is hand-derivable:
    // X moves 10.0,20.0 → 10.03125,20.0625 in 10 s (d² = 31250² + 62500²
    // = 4882812500 ≤ 100·10000² = 1e10 → plausible), then teleports to
    // 12.0,25.0 (d² = 1968750² + 4937500² = 28254882812500 → jump);
    // Y has a single position → no pair row.
    val p = Seq(
      ("X", 0L, 10.0, 20.0), ("X", 10000L, 10.03125, 20.0625),
      ("X", 20000L, 12.0, 25.0), ("Y", 0L, -5.5, 3.25))
      .toDF("hex_ident", "ems", "lat", "lon")
    val got = Sbs1Queries.jumpReport(p).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
       r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7))).toSeq
    assert(got == Seq(
      ("X", 0L, 10000L, 10000L, 31250L, 62500L, 4882812500L, false),
      ("X", 10000L, 20000L, 10000L, 1968750L, 4937500L,
       28254882812500L, true)), got)
  }

  test("q_stats_covariance: hand-derived cents-quantized numerators") {
    import spark.implicits._
    // rows (qty, price, disc, tax): (1,10,0,0), (2,20,0.1,0), (3,30,0.2,0)
    // cents: x_qty 100/200/300, x_price 1000/2000/3000, x_disc 0/10/20
    // (0.1·100 = 10.000…2 floors to 10 — the quantization is the double
    // product both engines share), x_tax all 0. Hand-folded numerators:
    //   cov(qty,price) = 3·1.4e6 − 600·6000 = 600000; var_qty = 60000,
    //   var_price = 6e6; cov(qty,disc) = 6000; cov(price,disc) = 60000;
    //   var_disc = 600; every tax cell = 0.
    val dir = java.nio.file.Files.createTempDirectory("statscov").toString
    Seq((1.0, 10.0, 0.0, 0.0), (2.0, 20.0, 0.1, 0.0), (3.0, 30.0, 0.2, 0.0))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_stats_covariance")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("l_discount", "l_tax", 3L, 0L, 600L, 0L),
      ("l_extendedprice", "l_discount", 3L, 60000L, 6000000L, 600L),
      ("l_extendedprice", "l_tax", 3L, 0L, 6000000L, 0L),
      ("l_quantity", "l_discount", 3L, 6000L, 60000L, 600L),
      ("l_quantity", "l_extendedprice", 3L, 600000L, 60000L, 6000000L),
      ("l_quantity", "l_tax", 3L, 0L, 60000L, 0L)), got)
  }

  test("q_emb_covariance: hand-derived co-moments on a 3-dim-active corpus") {
    import spark.implicits._
    // three vectors, only dims 0-2 nonzero (milli-codes 1000·x):
    //   a = (1, 2, 0, 0…), b = (2, 4, 1, 0…), c = (3, 6, 2, 0…)
    // n=3, s0=6000, s1=12000, s2=3000;
    //   cov01 = 3·28e6 − 6000·12000 = 12e6
    //   cov02 = 3·8e6  − 6000·3000  =  6e6
    //   cov12 = 3·16e6 − 12000·3000 = 12e6
    // every pair touching dims ≥3 is exactly 0, so the page is
    // (0,1), (1,2) [12e6 tie broken by (i,j)], (0,2), then the zero
    // pairs in (i,j) order: (0,3)…(0,19).
    val dir = java.nio.file.Files.createTempDirectory("embcov").toString
    def vec(a: Float, b: Float, c: Float): Seq[Float] =
      Seq(a, b, c) ++ Seq.fill(61)(0.0f)
    Seq((1L, vec(1, 2, 0), 0), (2L, vec(2, 4, 1), 0), (3L, vec(3, 6, 2), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q_emb_covariance")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 20)
    assert(got.take(3).toSeq == Seq(
      (0L, 1L, 3L, 12000000L), (1L, 2L, 3L, 12000000L),
      (0L, 2L, 3L, 6000000L)), got.take(3).toSeq)
    assert(got.drop(3).toSeq ==
      (3 to 19).map(j => (0L, j.toLong, 3L, 0L)).toSeq, got.drop(3).toSeq)
  }

  test("q_sim_hybrid: fused list restates its arms and the RRF formula") {
    val rows = SparkEntry.queries("q_sim_hybrid")(spark, sf).collect()
      .map(r => (r.getLong(0),
                 if (r.isNullAt(1)) None else Some(r.getLong(1)),
                 if (r.isNullAt(2)) None else Some(r.getLong(2)),
                 r.getLong(3)))
    assert(rows.length == 20)
    // rrf_e6 is exactly the formula over the surfaced ranks
    rows.foreach { case (id, rl, rv, rrf) =>
      val want = rl.map(r => 1000000L / (60 + r)).getOrElse(0L) +
                 rv.map(r => 1000000L / (60 + r)).getOrElse(0L)
      assert(rrf == want, s"doc $id")
      assert(rl.nonEmpty || rv.nonEmpty, s"doc $id in neither arm")
    }
    // output is (rrf desc, doc_id) — the deterministic page order
    assert(rows.map { case (id, _, _, f) => (-f, id) }.toSeq ==
           rows.map { case (id, _, _, f) => (-f, id) }.sorted.toSeq)
    // every surfaced lexical rank points at the SAME doc q_text_bm25
    // ranks there (arm fidelity, not just formula fidelity)
    val bmOrder = SparkEntry.queries("q_text_bm25")(spark, sf).collect()
      .map(_.getLong(0))
    rows.foreach { case (id, rl, _, _) =>
      rl.foreach(r => assert(bmOrder(r.toInt - 1) == id,
        s"lex rank $r of doc $id disagrees with q_text_bm25"))
    }
  }

  test("q_event_concurrency: a session quiet across an hour boundary " +
       "still counts as active in both hours") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("conc").toString
    // user 1: one session inside hour 0 ([0 ms, 25 min]);
    // user 2: one session [58 min, 78 min] (20-min gap < 30) spanning
    // hours 0 AND 1 — the event-count view would miss its hour-1 share
    Seq((1L, 0L), (1L, 1500000L), (2L, 3500000L), (2L, 4700000L))
      .map { case (u, ms) => (u, ms * 1000000L) }
      .toDF("user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_event_concurrency")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 2L, 2L), (1L, 1L, 1L)), got)
  }

  test("q_text_quality_src: decile cells restate q_text_quality's " +
       "per-doc scores") {
    val perDoc = SparkEntry.queries("q_text_quality")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap // doc_id -> quality_e6
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = perDoc.toSeq
      .groupBy { case (id, q) => (srcOf(id), q / 100000L) }
      .view.mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("q_text_quality_src")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("token-length histogram caps the tail cell at 20") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val toks = Seq("ab", "abc", "a" * 25, "b" * 20).toDF("token")
    val got = toks
      .select(least(length(col("token")), lit(20)).cast("long").as("len"))
      .groupBy("len").agg(count(lit(1)).as("n")).orderBy("len").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 1L), (3L, 1L), (20L, 2L)), got)
  }

  test("q_dedup_rate_src: per-source unique counts restate " +
       "q_dedup_content's keeper groups") {
    val keepersBySrc = SparkEntry.queries("q_dedup_content")(spark, sf)
      .collect().filter(_.getBoolean(2)) // is_keeper
      .map(_.getLong(0)) // doc_id
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // NOTE q_dedup_content keeps one doc per CORPUS-wide digest group;
    // per-source uniques can only be >= the per-source keeper count
    // (a cross-source dup's non-keeper copy is still unique WITHIN its
    // own source) — pin the inequality plus the doc totals
    val want = keepersBySrc.groupBy(srcOf).view.mapValues(_.length.toLong)
    val rows = SparkEntry.queries("q_dedup_rate_src")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docTotals = srcOf.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    rows.foreach { case (src, nDocs, nUnique, ppm) =>
      assert(nDocs == docTotals(src), src)
      assert(nUnique >= want.getOrElse(src, 0L) && nUnique <= nDocs, src)
      assert(ppm == (nDocs - nUnique) * 1000000L / nDocs, src)
    }
  }

  test("q_mix_alpha: lower exponents flatten the mixture (max share " +
       "non-increasing, min share non-decreasing)") {
    val rows = SparkEntry.queries("q_mix_alpha")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(3))) // (alpha_pct, share_ppm)
      .groupBy(_._1).view.mapValues(v => (v.map(_._2).max, v.map(_._2).min))
      .toMap
    val order = Seq(100, 50, 25)
    order.sliding(2).foreach { case Seq(hi, lo) =>
      assert(rows(hi)._1 >= rows(lo)._1, s"max share rose from α=$hi to $lo")
      assert(rows(hi)._2 <= rows(lo)._2, s"min share fell from α=$hi to $lo")
    }
    // α = 1 shares restate raw proportions: they must spread strictly
    // wider than α = 1/4 on the skewed fixture
    assert(rows(100)._1 - rows(100)._2 > rows(25)._1 - rows(25)._2)
  }

  test("GraftOps.benford wrapper: magnitude digits on a signed column") {
    import spark.implicits._
    val df = Seq(-123.45, 250.00, 9.99, 0.00).toDF("amt")
    val got = graft.api.GraftOps.benford(df, "amt").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // 0.00 has no first significant digit and is excluded
    assert(got == Seq((1, 1L), (2, 1L), (9, 1L)), got)
  }

  test("ksStat: hand-derived exact KS on a 9-observation split") {
    import spark.implicits._
    // A = [1,2,2,5], B = [2,3,5,5,7] → per-value (c1,c2):
    // 1:(1,0) 2:(2,1) 3:(0,1) 5:(1,2) 7:(0,1); cum k1 = 1,3,3,4,4 and
    // k2 = 0,1,2,4,5; |k1·n2 − k2·n1| = 5,11,7,4,0 → d_num = 11,
    // ks_e6 = 11·10⁶ DIV 20 = 550000
    val obs = (Seq(1L, 2L, 2L, 5L).map((_, true)) ++
               Seq(2L, 3L, 5L, 5L, 7L).map((_, false)))
      .toDF("v", "in_a")
    val r = operators.StatsQueries.ksStat(obs).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getAs[Long]("n1"), row.getAs[Long]("n2"),
            row.getAs[Long]("d_num"), row.getAs[Long]("ks_e6")) ==
           ((4L, 5L, 11L, 550000L)), row)
  }

  test("weeklyChurn: hand-derived rates — same-week duplicates fold, a " +
       "skipped week churns, the trailing week right-censors to churned") {
    import spark.implicits._
    val W = 604800000L
    // u1 active weeks 0,1,2 (two events in wk0 — distinct must fold);
    // u2 weeks 0 and 2 (skips 1 → churned for wk0, re-acquired);
    // u3 week 1 only. wk0: 2 active / 1 retained → 500000; wk1: 2/1 →
    // 500000; wk2: 2/0 (right-censored trailing week) → 1000000
    val ev = Seq(
      (1L, 0L), (1L, 5L), (1L, W), (1L, 2 * W),
      (2L, 10L), (2L, 2 * W + 10L),
      (3L, W + 3L)).toDF("user_id", "ems")
    val got = graft.operators.EventTimeQueries.weeklyChurn(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (0L, 2L, 1L, 500000L),
      (1L, 2L, 1L, 500000L),
      (2L, 2L, 0L, 1000000L)), got)
  }

  test("funnelTime: hand-derived lag percentiles — same-ms tie converts " +
       "at lag 0, click-without-view never converts, interpolation exact") {
    import spark.implicits._
    // u1 full funnel (vc 2000, cp 7000); u2 stops at click (vc 4000);
    // u3 clicks with no view → no conversion (ems >= null v_ms is never
    // true); u4 same-ms view+click tie (vc 0) then purchase (cp 5).
    // view_to_click lags [0, 2000, 4000]: p50 = 2000, p90 = 2000 +
    // 0.8·2000 = 3600.0; click_to_purchase lags [5, 7000]: p50 = 5 +
    // 0.5·6995 = 3502.5, p90 = 5 + 0.9·6995 = 6300.5
    val ev = Seq(
      (1L, 1000L, "view"), (1L, 3000L, "click"), (1L, 10000L, "purchase"),
      (2L, 0L, "view"), (2L, 4000L, "click"),
      (3L, 500L, "click"),
      (4L, 0L, "view"), (4L, 0L, "click"), (4L, 5L, "purchase"))
      .toDF("user_id", "ems", "event_type")
    val got = graft.operators.EventTimeQueries.funnelTime(ev).collect()
      .map(r => (r.getString(0), r.getLong(1),
                 r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("click_to_purchase", 2L, 3502.5, 6300.5),
      ("view_to_click", 3L, 2000.0, 3600.0)), got)
  }

  test("vocabOverlap: hand-derived Jaccard matrix — duplicate rows fold, " +
       "multi-source tokens fan out C(S,2), zero-overlap pairs absent") {
    import spark.implicits._
    // vocabs: arxiv={a,b,z} (the duplicate b row must fold), web=
    // {b,c,d,z}, wiki={x,z}; loner carries no shared token with anyone
    // → all its pairs are absent. (arxiv,web) share {b,z} → 2·10⁶ DIV
    // (3+4−2) = 400000; (arxiv,wiki) share {z} → 10⁶ DIV 4 = 250000;
    // (web,wiki) share {z} → 10⁶ DIV 5 = 200000 — and z alone exercises
    // the 3-source set's C(3,2) pair fan-out
    val sv = Seq(
      ("arxiv", "a"), ("arxiv", "b"), ("arxiv", "b"), ("arxiv", "z"),
      ("web", "b"), ("web", "c"), ("web", "d"), ("web", "z"),
      ("wiki", "x"), ("wiki", "z"),
      ("loner", "qqq")).toDF("source", "token")
    val got = operators.TextQueries.vocabOverlap(sv).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
                 r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("arxiv", "web", 3L, 4L, 2L, 400000L),
      ("arxiv", "wiki", 3L, 2L, 1L, 250000L),
      ("web", "wiki", 4L, 2L, 1L, 200000L)), got)
  }

  test("mwuStat: hand-derived exact U/AUC on the ksStat 9-observation " +
       "split (tie-aware)") {
    import spark.implicits._
    // A = [1,2,2,5], B = [2,3,5,5,7] → per-value (c1,c2):
    // 1:(1,0) 2:(2,1) 3:(0,1) 5:(1,2) 7:(0,1); inclusive k2 =
    // 0,1,2,4,5; u2x = Σ c1·(2k2−c2) = 0 + 2·(2−1) + 0 + 1·(8−2) + 0
    // = 8 → U = 4 (direct count: each a=2 half-ties one b=2 → 1 total;
    // a=5 beats 2,3 and half-ties 5,5 → 3), auc_e6 = 8·10⁶ DIV 40 =
    // 200000 — cohort A stochastically smaller, AUC 0.2
    val obs = (Seq(1L, 2L, 2L, 5L).map((_, true)) ++
               Seq(2L, 3L, 5L, 5L, 7L).map((_, false)))
      .toDF("v", "in_a")
    val r = operators.StatsQueries.mwuStat(obs).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getAs[Long]("n1"), row.getAs[Long]("n2"),
            row.getAs[Long]("u2x"), row.getAs[Long]("auc_e6")) ==
           ((4L, 5L, 8L, 200000L)), row)
  }

  test("mwuStat: an all-tie split is exactly AUC 500000 (the doubled " +
       "statistic carries the half-tie without float)") {
    import spark.implicits._
    // A = [3], B = [3]: u2x = 1·(2·1 − 1) = 1 (U = ½ — one tie pair),
    // auc_e6 = 10⁶ DIV 2 = 500000
    val obs = Seq((3L, true), (3L, false)).toDF("v", "in_a")
    val row = operators.StatsQueries.mwuStat(obs).collect().head
    assert((row.getAs[Long]("n1"), row.getAs[Long]("n2"),
            row.getAs[Long]("u2x"), row.getAs[Long]("auc_e6")) ==
           ((1L, 1L, 1L, 500000L)), row)
  }

  test("mwuStat large-input pin: 1e6 rows over ~300 bins equals the " +
       "single-window textbook form") {
    import org.apache.spark.sql.expressions.Window
    // same deterministic corpus as the ksStat large pin: ~305 populated
    // 2¹⁶-bins exercise real bin-offset composition; the reference is
    // the textbook global-window rank form the engine's two-level
    // prefix sum replaces
    val obs = spark.range(1000000L)
      .select(pmod(xxhash64(col("id")), lit(20000000L)).as("v"),
              (col("id") % 2 === 0).as("in_a"))
    val got = operators.StatsQueries.mwuStat(obs).collect().head
    val vals = obs.groupBy("v").agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("c2"))
    val totals = vals.agg(sum("c1"), sum("c2")).head
    val (n1, n2) = (totals.getLong(0), totals.getLong(1))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val u2x = vals
      .select(col("c1"), col("c2"), sum("c2").over(w).as("k2"))
      .agg(sum(expr("CAST(c1 AS DECIMAL(38,0)) * (2 * k2 - c2)")))
      .head.getDecimal(0).longValueExact()
    assert(got.getAs[Long]("n1") == n1 && got.getAs[Long]("n2") == n2)
    assert(got.getAs[Long]("u2x") == u2x,
      s"u2x ${got.getAs[Long]("u2x")} vs textbook $u2x")
    assert(got.getAs[Long]("auc_e6") ==
      (BigInt(u2x) * 1000000 / (BigInt(2) * n1 * n2)).toLong)
  }

  test("ksStat: bin-boundary and negative values keep the prefix sum " +
       "contiguous (trunc-div bins are monotone)") {
    import spark.implicits._
    // values straddle bin −1 / 0 / 1 of the 2¹⁶ binning: the two-level
    // prefix sum must order bins correctly across the sign change and
    // the 65536 boundary. A = [−70000, 65537], B = [65536] → k1 = 1,1,2;
    // k2 = 0,1,1; |k1·1 − k2·2| = 1,1,0 → d_num = 1, ks_e6 = 500000
    val obs = (Seq(-70000L, 65537L).map((_, true)) ++
               Seq(65536L).map((_, false))).toDF("v", "in_a")
    val row = operators.StatsQueries.ksStat(obs).collect().head
    assert((row.getAs[Long]("n1"), row.getAs[Long]("n2"),
            row.getAs[Long]("d_num"), row.getAs[Long]("ks_e6")) ==
           ((2L, 1L, 1L, 500000L)), row)
  }

  test("ksStat large-input pin: 1e6 rows over ~300 bins equals the " +
       "single-window textbook form") {
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random values spread over [0, 2e7) — ~305
    // populated 2¹⁶-bins, so the two-level prefix sum exercises real
    // bin-offset composition at data volume (the Quantiles large-pin
    // precedent); the reference is the textbook global-window form the
    // engine's shape replaces
    val obs = spark.range(1000000L)
      .select(pmod(xxhash64(col("id")), lit(20000000L)).as("v"),
              (col("id") % 2 === 0).as("in_a"))
    val got = operators.StatsQueries.ksStat(obs).collect().head
    val vals = obs.groupBy("v").agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("c2"))
    val totals = vals.agg(sum("c1"), sum("c2")).head
    val (n1, n2) = (totals.getLong(0), totals.getLong(1))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val dmax = vals
      .select(sum("c1").over(w).as("k1"), sum("c2").over(w).as("k2"))
      .agg(max(abs(col("k1") * n2 - col("k2") * n1))).head.getLong(0)
    assert(got.getAs[Long]("n1") == n1 && got.getAs[Long]("n2") == n2)
    assert(got.getAs[Long]("d_num") == dmax,
      s"d_num ${got.getAs[Long]("d_num")} vs textbook $dmax")
    assert(got.getAs[Long]("ks_e6") == dmax * 1000000L / (n1 * n2))
  }

  test("q_dedup_lsh_stats: histogram mass re-adds to the band-sig table") {
    val st = SparkEntry.queries("q_dedup_lsh_stats")(spark, sf).collect()
    val sigs = operators.DedupQueries.bandSigTable(spark, sf)
    assert(st.map(_.getAs[Long]("n_entries")).sum == sigs.count(),
      "Σ size·buckets must equal total band-table rows")
    assert(st.map(_.getAs[Long]("n_buckets")).sum ==
           sigs.select("sig").distinct().count(),
      "Σ n_buckets must equal distinct signatures")
    val direct = sigs.groupBy("sig").count()
      .agg(sum(expr("count * (count - 1) DIV 2"))).head.getLong(0)
    assert(st.map(_.getAs[Long]("cand_pairs")).sum == direct,
      "candidate-pair mass must re-add from per-sig C(n,2)")
  }

  test("q_emb_project: hand-derived projections for crafted unit and " +
       "constant vectors (exact integer dot against the fixture basis)") {
    import spark.implicits._
    // independent restatement of the fixture basis arithmetic
    def basis(k: Int, i: Int): Long = ((k * 64L + i) * 2654435761L) % 2001 - 1000
    // vec 1: 1.0 at dim 0 → q = [1000, 0…]; vec 2: −0.0005 everywhere →
    // floor(−0.5) = −1 milli at every dim
    val e = Seq(
      (1L, Array.fill(64)(0.0).updated(0, 1.0).toSeq),
      (2L, Array.fill(64)(-0.0005).toSeq)).toDF("vec_id", "v")
    val got = graft.operators.SimilarityQueries.embProject(e)
      .collect().map(r => (r.getLong(0),
        (1 to 4).map(r.getLong))).toSeq
    val exp1 = (0 until 4).map(k => 1000L * basis(k, 0))
    val exp2 = (0 until 4).map(k => -(0 until 64).map(i => basis(k, i)).sum)
    assert(got == Seq((1L, exp1), (2L, exp2)))
  }

  test("entry smoke: flagship query returns rows (t1 contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs at sf0.001 and oracle keys ⊆ query keys") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }
}
