package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog/metastore surface (VERDICT r10 missing #3): the engine's
  * tables as CATALOG objects with computed statistics, so sizing
  * decisions (the q_dedup_bloom sketch geometry, broadcast choices a
  * user makes by hand) can read a metastore SCALAR instead of paying a
  * count() pre-scan over the corpus.
  *
  * The local harness runs an in-memory catalog (statistics live for the
  * session); against a persistent metastore (Hive/Glue/Unity) the same
  * calls durably record stats at write time and every later session
  * reads them for free — `ANALYZE TABLE ... COMPUTE STATISTICS` is the
  * standard contract either way. CBO also picks these stats up for join
  * planning when spark.sql.cbo.enabled is set.
  */
object CatalogOps {

  /** Register an existing parquet path as an EXTERNAL catalog table
    * (idempotent). The data stays where it is; only metadata enters the
    * catalog. An explicit `schema` skips createTable's own footer
    * inference (r18: the fixture registration re-inferred all 10 tables'
    * schemas per session, ~60 ms each, when the memoized Tables reader
    * had already paid that inference once — the schema is identical by
    * construction: same reader, same session confs).
    *
    * The schema override is valid ONLY for UNPARTITIONED paths (ADVICE
    * r18): the explicit-schema createTable branch performs no partition
    * discovery, so a Hive-style partitioned directory registered this
    * way would silently lose its partition columns. Every fixture file
    * is a flat parquet dir; a partitioned path must pass schema = None
    * and take the inference branch.
    */
  def registerParquet(s: SparkSession, table: String, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit =
    if (!s.catalog.tableExists(table)) {
      schema match {
        case Some(sc) =>
          s.catalog.createTable(table, "parquet", sc, Map("path" -> path))
        case None => s.catalog.createTable(table, path, "parquet")
      }
      ()
    }

  /** Compute table-level statistics (row count, size) into the catalog —
    * one scan now, a free scalar for every consumer after.
    */
  def analyze(s: SparkSession, table: String): Unit = {
    // backtick-quoted: a hyphenated (or otherwise non-simple) caller
    // name must ANALYZE, not parse-error — and must never splice SQL
    // fragments into the statement (r18 self-review)
    s.sql(s"ANALYZE TABLE `$table` COMPUTE STATISTICS")
    ()
  }

  /** The catalog's row count for `table`, if statistics were computed —
    * the scalar bloomSeen's sizing reads instead of a corpus pre-scan.
    */
  def statsRowCount(s: SparkSession, table: String): Option[Long] = {
    if (!s.catalog.tableExists(table)) return None
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    meta.stats.flatMap(_.rowCount).map(_.toLong)
  }

  /** The catalog name a fixture table of `dir` registers under — ONE
    * definition shared by [[registerFixture]] and stats consumers
    * (q_dedup_bloom's sizing), so the lookup can never drift from the
    * registration.
    */
  def fixtureTableName(dir: String, name: String): String =
    s"graft_${fixtureSlug(dir)}_$name"

  /** Collision-proof dir slug: the readable alnum squash PLUS a short
    * digest of the raw path. The squash alone is lossy — distinct dirs
    * like `/data/sf0.1` and `/data/sf0_1` collapse to one slug, and the
    * second registration's tableExists no-op would then silently serve
    * the FIRST dir's data under the second dir's table names
    * (r18 self-review). Shared by the table names and the stats
    * sidecar path so the two can never disagree. */
  private[graft] def fixtureSlug(dir: String): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
    val dig = java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))
      .toString.replace("-", "").take(6)
    s"${slug}_$dig"
  }

  /** Register + analyze every fixture table of a dir under
    * `graft_<slug>_<name>` — the one-time setup a production deployment
    * does at ingest time. Returns the table-name map.
    */
  def registerFixture(s: SparkSession, dir: String): Map[String, String] =
    registerFixtureTagged(s, dir)._1

  /** [[registerFixture]] plus its provenance tag. The computed statistics
    * PERSIST next to the model artifacts keyed by each table's source
    * fingerprint, so a fresh session RESTORES them into its in-memory
    * catalog with zero scans and re-ANALYZEs only tables whose source
    * files changed (VERDICT r15 #2: the catalog_analyze bench phase was
    * 3.4 s of pure re-scan per session on unchanged fixtures — against a
    * persistent metastore the stats survive for free, and this sidecar
    * is the in-memory-catalog equivalent). Tag: "stats" = every table
    * restored; "analyze" = at least one scanned (and the sidecar
    * refreshed). A torn/unreadable sidecar degrades to re-ANALYZE —
    * never stale stats: a fingerprint mismatch scans.
    */
  /** The fixture table set, shared by registration and release so the
    * two can never disagree. */
  private val FixtureNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Drop `dir`'s fixture tables from the session catalog — METADATA
    * only (external tables; the parquet stays). The bench's end-of-sweep
    * phase re-measure releases these so a catalog_analyze re-run times
    * the honest registration path: without it, registerParquet's
    * tableExists short-circuit made the second sample a near-no-op
    * (~0.1 s for a phase whose real cold cost is ~1.0 s) and the
    * min-of-samples doctrine published the no-op (r19 measurement-honesty
    * fix, declared in OPTIMIZATION_r19.md). */
  def releaseFixture(s: SparkSession, dir: String): Unit =
    FixtureNames.foreach { n =>
      s.sql(s"DROP TABLE IF EXISTS `${fixtureTableName(dir, n)}`"); ()
    }

  def registerFixtureTagged(s: SparkSession,
                            dir: String): (Map[String, String], String) = {
    val names = FixtureNames
    val statsPath = {
      val wh = s.conf.get("spark.sql.warehouse.dir")
      s"${wh.stripSuffix("/")}/g_stats_${fixtureSlug(dir)}"
    }
    // persisted (name -> (fp, size_bytes, row_count)); unreadable → empty.
    // Existence probe BEFORE the read: a cold warehouse is the common
    // first-run case, and letting the parquet read throw means Spark 4
    // logs the caught analysis failure at ERROR — alarming noise for a
    // by-design "absent → analyze" path (the serveLocked precedent)
    val persisted: Map[String, (String, Long, Long)] = try {
      val p = new org.apache.hadoop.fs.Path(statsPath)
      if (!p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))
        Map.empty
      else {
        // 10-row sidecar read on the DRIVER (r19, VERDICT r18 #3) — the
        // Spark-read form cost the warm restore path one job per session
        val rows: Seq[org.apache.spark.sql.Row] =
          LocalParquet.readRows(s, statsPath).map(_._2)
            .getOrElse(s.read.parquet(statsPath).collect().toSeq)
        rows.map { r =>
          r.getAs[String]("name") ->
            ((r.getAs[String]("fp"), r.getAs[Long]("size_bytes"),
              r.getAs[Long]("row_count")))
        }.toMap
      }
    } catch { case _: Exception => Map.empty }
    // Per-table one-time setup — the memoized reader's footer inference
    // and the source fingerprint digest — is independent across tables
    // and read-only, and at data scale the inference is itself a
    // distributed footer job (§2.6: overlap independent jobs — the
    // sequential loop serialized ten of them on one driver thread, so
    // the registration phase paid the SUM where the slowest table
    // suffices). Warm them concurrently; catalog MUTATIONS (createTable,
    // ANALYZE, alterTableStats) stay in the sequential loop below.
    // Tables.t is documented thread-safe (construction outside the lock,
    // first publish wins); a warm failure rethrows at Await exactly as
    // the sequential form threw inline.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(names.size, 8))
    val warmed: Map[String, (org.apache.spark.sql.types.StructType, String)] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        names.map { n =>
          n -> scala.concurrent.Future {
            // digested fingerprint (r16 review): a same-size-same-mtime
            // in-place rewrite must re-analyze, not restore stale stats
            val path = s"$dir/$n.parquet"
            val fp = IndexArtifacts.fileFingerprintDigest(path)
            // an observed REWRITE (a persisted fingerprint exists and no
            // longer matches) releases the session's memoized reader
            // snapshot AND the fixture-derived memos (centroid Seqs, the
            // vec-0 query row — ADVICE r18) BEFORE the reader is warmed:
            // the old snapshot would hand back the pre-rewrite schema
            // and file listing. A merely-absent sidecar is the normal
            // cold path and must not thrash warm state
            if (persisted.get(n).exists(_._1 != fp))
              graft.Tables.invalidate(s, path)
            (graft.Tables.t(s, dir, n).schema, fp)
          }
        }.map { case (n, f) =>
          n -> scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf)
        }.toMap
      } finally pool.shutdown()
    var analyzed = 0
    val fresh = scala.collection.mutable.Map.empty[String, (String, Long, Long)]
    val out = names.map { n =>
      val t = fixtureTableName(dir, n)
      val (schema, fp) = warmed(n)
      // schema from the memoized reader — one footer inference per
      // (session, path), shared with every query (see registerParquet)
      registerParquet(s, t, s"$dir/$n.parquet", schema = Some(schema))
      persisted.get(n).filter(_._1 == fp) match {
        case Some((_, size, rows)) =>
          restoreStats(s, t, size, rows)
          fresh(n) = (fp, size, rows)
        case None =>
          // a table registered before the rewrite keeps its cached file
          // listing (registerParquet never re-registers), so ANALYZE
          // would scan deleted files: refresh it first
          if (persisted.contains(n)) s.catalog.refreshTable(t)
          analyze(s, t)
          analyzed += 1
          val meta = s.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t))
          meta.stats.foreach { st =>
            fresh(n) = (fp, st.sizeInBytes.toLong,
              st.rowCount.map(_.toLong).getOrElse(-1L))
          }
      }
      n -> t
    }.toMap
    if (analyzed > 0) try {
      import s.implicits._
      fresh.toSeq.map { case (n, (fp, size, rows)) => (n, fp, size, rows) }
        .toDF("name", "fp", "size_bytes", "row_count")
        .coalesce(1).write.mode("overwrite").parquet(statsPath)
    } catch { case _: Exception => } // unwritable warehouse: stats stay session-local
    (out, if (analyzed == 0) "stats" else "analyze")
  }

  /** Inject persisted statistics into the session catalog — the restore
    * half of the stats sidecar, byte-identical in effect to what ANALYZE
    * computed when it was persisted (CBO and sketch-sizing consumers read
    * the same CatalogStatistics either way). */
  private def restoreStats(s: SparkSession, table: String,
                           sizeBytes: Long, rowCount: Long): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
    s.sessionState.catalog.alterTableStats(TableIdentifier(table),
      Some(CatalogStatistics(BigInt(sizeBytes),
        if (rowCount >= 0) Some(BigInt(rowCount)) else None)))
  }

  /** [[graft.operators.DedupQueries.bloomSeen]] with CATALOG-STATS
    * sizing: the corpus is a registered, analyzed table and the sketch
    * geometry comes from `statsRowCount` — zero pre-scan when stats
    * exist (falls back to one count() when they don't, with the same
    * result: the geometry scalar is the only thing stats replace).
    */
  def bloomSeenCatalog(s: SparkSession, corpusTable: String,
                       batch: DataFrame): DataFrame = {
    val corpus = s.table(corpusTable)
    graft.operators.DedupQueries.bloomSeen(
      corpus, batch, knownCount = statsRowCount(s, corpusTable))
  }
}
