package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PARTITIONED versioned index artifacts — the storage layout that
  * makes streaming index maintenance O(batch) instead of O(corpus)
  * (the r18 verdict's one flagged scale-killer: the previous cycle
  * read version N of every member IN FULL and wrote a COMPLETE
  * version N+1 per micro-batch, so a one-document batch at 100 TB
  * would rewrite corpus-sized tf/positional tables).
  *
  * Layout: each member table (tf, dl, pos keyed by doc id; df, vi
  * keyed by term) is hash-partitioned into a fixed number of
  * partitions (`pmod(xxhash64(key), parts)` — stable across versions,
  * so a row's partition never moves). Physical files are IMMUTABLE,
  * written once under `root/parts/<member>/v<N>/_p=<k>/`; a version is
  * a MANIFEST (`root/v<N>/<member>.manifest`) mapping each non-empty
  * partition to the version whose physical directory currently holds
  * it. A fold writes fresh files ONLY for the partitions the batch
  * touches and carries every other partition BY REFERENCE — the
  * manifest entry keeps pointing at the older version's directory, so
  * untouched files are never rewritten (spec-proven by file identity:
  * path + mtime + length across a fold). Per-micro-batch I/O is
  * therefore bounded by (touched partitions) × (partition size) —
  * a function of the BATCH, not the corpus.
  *
  * Spark-first notes: partition pruning is explicit path selection
  * (the manifest lists leaf `_p=k` dirs, read as plain parquet roots,
  * so no `_p` column leaks into member schemas); the touched-set and
  * manifest logic are driver-local over AT MOST `parts` integers (the
  * fit-time-collect discipline — bounded by the layout constant,
  * never by data size). A stray folded row hashing OUTSIDE the
  * declared touched set would be silently invisible to readers, so
  * the fold write guards per row with raise_error IN A FILTER
  * predicate (prune-proof, the r16 lesson).
  *
  * The reference's delivery pipeline has no index artifact at all
  * (reference reprocesses full snapshots per run — SURVEY §2.1); this
  * layout is the Iceberg/Delta manifest idea re-expressed minimally
  * for the engine's five maintained index families.
  */
object IndexArtifact {

  /** One member table of a maintained index: `keyCol` decides the
    * partition a row lives in; `parts` is the fixed partition count
    * (choose ~corpus-size / healthy-partition-size at deploy time;
    * tests use 8). `parts == 1` is the degenerate single-partition
    * member (totals rows). */
  final case class Member(name: String, keyCol: String, parts: Int) {
    require(parts >= 1, s"parts must be >= 1, got $parts")
  }

  /** Stable partition id of a key — pmod keeps negatives out. */
  def partOf(key: Column, parts: Int): Column =
    if (parts == 1) lit(0) else pmod(xxhash64(key), lit(parts)).cast("int")

  private def hfs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run independent member-write ACTIONS concurrently (optimization
    * guide §2.6: actions are only sequential because the driver calls
    * them sequentially; overlapping lets one job's tasks back-fill the
    * executor slots another job's tail leaves idle). Member folds write
    * disjoint directories and disjoint manifests, so the only shared
    * state is the SparkSession's scheduler — thread-safe by design.
    * Callers must CONSTRUCT all DataFrames on their own thread first
    * (OperatorCaches tracking is thread-confined under a scope); the
    * closures here only execute actions. The first failure rethrows
    * after every thread finishes (a raise_error guard must stay loud). */
  private def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = tasks.map(t => new Thread(() =>
      try t() catch { case e: Throwable => errs.add(e); () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  private def partsDir(root: String, m: Member, version: Int): String =
    s"$root/parts/${m.name}/v$version"

  private def manifestPath(root: String, m: Member, version: Int): Path =
    new Path(s"$root/v$version/${m.name}.manifest")

  private def schemaPath(root: String, m: Member): Path =
    new Path(s"$root/parts/${m.name}/_SCHEMA.json")

  private def writeText(spark: SparkSession, p: Path, s: String): Unit = {
    val out = hfs(spark, p).create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(spark: SparkSession, p: Path): String = {
    val in = hfs(spark, p).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeManifest(spark: SparkSession, root: String, m: Member,
      version: Int, man: Map[Int, Int]): Unit =
    writeText(spark, manifestPath(root, m, version),
      man.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString("\n"))

  /** partition → version currently holding it (non-empty partitions
    * only — partitionBy never materializes empty directories and a
    * fold that deletes a partition's last row drops its entry). */
  def readManifest(spark: SparkSession, root: String, m: Member,
      version: Int): Map[Int, Int] =
    readText(spark, manifestPath(root, m, version)).split("\n")
      .iterator.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val Array(k, v) = line.split(" ")
        k.toInt -> v.toInt
      }.toMap

  private def listWrittenParts(spark: SparkSession, dir: String): Seq[Int] = {
    val p = new Path(dir)
    val fs = hfs(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_p=")).map(_.stripPrefix("_p=").toInt).toSeq
  }

  private def memberSchema(spark: SparkSession, root: String,
      m: Member): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType
      .fromJson(readText(spark, schemaPath(root, m)))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def emptyLike(spark: SparkSession, root: String,
      m: Member): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[
      org.apache.spark.sql.Row], memberSchema(spark, root, m))

  /** Write a FULL snapshot of a member at `version` — the epoch-build
    * path (v0) and the degenerate always-tiny members (totals). Also
    * records the member's logical schema once, so later reads of an
    * emptied member reconstruct the right empty frame. */
  def writeFull(df: DataFrame, root: String, m: Member,
      version: Int): Unit = {
    val spark = df.sparkSession
    writeText(spark, schemaPath(root, m), df.schema.json)
    val dir = partsDir(root, m, version)
    // coalesce(2): member stats are orders of magnitude smaller than
    // the corpus; 2 tasks × partitionBy keeps per-partition file counts
    // at ≤2. Production would size this to the member's real volume.
    df.withColumn("_p", partOf(col(m.keyCol), m.parts))
      .coalesce(2).write.mode("overwrite").partitionBy("_p").parquet(dir)
    writeManifest(spark, root, m, version,
      listWrittenParts(spark, dir).map(_ -> version).toMap)
  }

  /** Read ONLY the given partitions of a member at `version` (the
    * fold's base read) — paths resolved through the manifest, grouped
    * by the physical version that holds them. */
  def readParts(spark: SparkSession, root: String, m: Member,
      version: Int, parts: Set[Int]): DataFrame = {
    val man = readManifest(spark, root, m, version)
    val byVer = man.toSeq.collect { case (k, v) if parts(k) => (v, k) }
      .groupBy(_._1)
    if (byVer.isEmpty) emptyLike(spark, root, m)
    else {
      // declared schema: skips per-call footer inference — a fold does
      // several member reads per micro-batch and the driver-side
      // metadata latency is the measurable cost at small scale
      val schema = memberSchema(spark, root, m)
      byVer.toSeq.sortBy(_._1).map { case (v, ks) =>
        spark.read.schema(schema).parquet(
          ks.map { case (_, k) => s"${partsDir(root, m, v)}/_p=$k" }: _*)
      }.reduce(_.unionByName(_))
    }
  }

  /** Read the member's full current row set at `version`. */
  def read(spark: SparkSession, root: String, m: Member,
      version: Int): DataFrame =
    readParts(spark, root, m, version,
      readManifest(spark, root, m, version).keySet)

  /** COMPACT a member: rewrite its current row set as a full snapshot
    * at `toVersion`, collapsing the manifest's version fan-in to 1.
    * Long-running streams fragment each partition's history across
    * many version directories (a read unions one path group per
    * distinct version in the manifest); periodic compaction — the
    * [[Compaction]] discipline applied to the versioned layout —
    * bounds read amplification at O(parts) paths again. Rows are
    * unchanged (spec-proven); pair with [[gcBelow]] once no reader
    * needs the pre-compaction versions. */
  def compact(spark: SparkSession, root: String, m: Member,
      fromVersion: Int, toVersion: Int): Unit =
    writeFull(read(spark, root, m, fromVersion), root, m, toVersion)

  /** Delete physical version directories of `m` that hold NO partition
    * referenced by `keepVersion`'s manifest and are older than it —
    * the GC half of [[compact]]. Callers guarantee no concurrent
    * reader still serves a manifest below `keepVersion` (the usual
    * retention contract of any snapshot store). Returns the versions
    * deleted. */
  def gcBelow(spark: SparkSession, root: String, m: Member,
      keepVersion: Int): Seq[Int] =
    gcRetaining(spark, root, m, Set(keepVersion))

  /** GC with a RETENTION SET — the production form of [[gcBelow]],
    * where SEVERAL snapshots stay live at once (a pinned training run
    * replays v1 while online serving reads v3 — the time-travel
    * contract q334/q338 gate requires their versions' files to
    * survive every later GC). Deletes the physical version
    * directories of `m` that are older than the NEWEST retained
    * version and hold no partition referenced by ANY retained
    * version's manifest; an intermediate version fully superseded by
    * later folds dies even though versions on both sides of it live
    * on. [[gcBelow]] is the single-snapshot special case. Driver-local
    * metadata over |retain| manifests; deletion is per physical
    * version directory. Returns the versions deleted (gated q342:
    * both retained versions serve hash-exact after the GC, the dead
    * middle version's directories are gone). */
  def gcRetaining(spark: SparkSession, root: String, m: Member,
      retain: Set[Int]): Seq[Int] = {
    require(retain.nonEmpty, "gcRetaining: empty retention set")
    val live = retain.flatMap(v =>
      readManifest(spark, root, m, v).values)
    val hi = retain.max
    val base = new Path(s"$root/parts/${m.name}")
    val fs = hfs(spark, base)
    if (!fs.exists(base)) return Seq.empty
    val deletable = fs.listStatus(base).iterator.map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.stripPrefix("v").toInt)
      .filter(v => v < hi && !live(v)).toSeq.sorted
    deletable.foreach { v =>
      fs.delete(new Path(partsDir(root, m, v)), true); ()
    }
    deletable
  }

  /** VERSION CARD — the one-row storage report per member (the card
    * discipline applied to the artifact layout itself): `rows` (the
    * member's current cardinality — the only distributed field),
    * `n_physical_versions` (version directories on disk — what GC is
    * for), `n_parts` (non-empty partitions in the manifest) and
    * `fan_in` (distinct versions the manifest references — the read
    * amplification: a read unions one path group per referenced
    * version, so fan_in is the number a long-running stream grows and
    * [[compact]] collapses to 1). Everything but `rows` is
    * driver-local metadata over ≤ parts manifest entries. `n_parts`
    * and `fan_in` depend on the key-hash layout, so q336 hash-gates
    * `rows`/`n_physical_versions` and the controlled-fixture spec
    * pins the other two. */
  def versionCard(spark: SparkSession, root: String, m: Member,
      version: Int): DataFrame = {
    val man = readManifest(spark, root, m, version)
    val base = new Path(s"$root/parts/${m.name}")
    val fs = hfs(spark, base)
    val nPhys =
      if (!fs.exists(base)) 0
      else fs.listStatus(base).count(_.getPath.getName.startsWith("v"))
    val rows = read(spark, root, m, version).count()
    import spark.implicits._
    Seq((m.name, rows, nPhys.toLong, man.size.toLong,
      man.values.toSet.size.toLong))
      .toDF("member", "rows", "n_physical_versions", "n_parts", "fan_in")
  }

  /** AUTO-COMPACTION POLICY — the in-stream form of [[compact]] +
    * [[gcBelow]] (q328 runs the pair once, post-stream; an infinite
    * stream needs the bound DURING the stream): if any member's
    * manifest at `version` references more than `maxFanIn` distinct
    * physical versions, advance the whole layout to `version + 1` —
    * members over the bound compact (one physical rewrite), members
    * under it CARRY by manifest copy (zero data I/O) — then GC every
    * member's unreferenced versions. Returns the current version
    * (unchanged when no member is over the bound). Read amplification
    * is thereby bounded at `maxFanIn + 1` path groups per member read
    * FOREVER, while compaction I/O stays amortized: a member rewrites
    * only every ~maxFanIn folds, so per-fold maintenance I/O remains
    * O(batch) + O(member/maxFanIn) — the LSM compaction trade, chosen
    * explicitly (gated q339; the bound is spec-pinned). All-member
    * advance keeps the layout's single-version serve contract: every
    * member is readable at every returned version. */
  def compactLayoutIfFanIn(spark: SparkSession, root: String,
      members: Seq[Member], version: Int, maxFanIn: Int): Int = {
    require(maxFanIn >= 1, s"maxFanIn must be >= 1, got $maxFanIn")
    val fanIn = members.map(m =>
      m -> readManifest(spark, root, m, version).values.toSet.size).toMap
    if (fanIn.valuesIterator.forall(_ <= maxFanIn)) version
    else {
      val to = version + 1
      // per-member compact/carry+GC are independent jobs over disjoint
      // directories — overlap them (guide §2.6)
      runConcurrently(members.map(m => () => {
        if (fanIn(m) > 1) compact(spark, root, m, version, to)
        else carry(spark, root, m, version, to)
        gcBelow(spark, root, m, to); ()
      }))
      to
    }
  }

  /** ATOMIC VERSION COMMIT — crash-safety for the multi-member fold.
    * A lexical fold writes one manifest PER MEMBER at the new version;
    * a crash mid-fold leaves a TORN version (some members manifested,
    * others not) that a naive latest-version reader would half-serve.
    * The marker makes version visibility atomic: the folding writer
    * calls [[commit]] once, AFTER every member's manifest is durable
    * (a single marker-file create — the one atomic primitive the
    * layout needs from its filesystem/object store, same contract as
    * a Delta/Iceberg commit file), and readers resolve
    * [[latestCommitted]] instead of trusting directory listings. A
    * torn version is invisible forever and simply overwritten by the
    * next successful fold (gated q340: a deliberately torn v2 serves
    * v1 exactly). */
  def commit(spark: SparkSession, root: String, version: Int): Unit =
    writeText(spark, new Path(s"$root/v$version/_COMMITTED"), "")

  /** Highest committed version under `root`, or -1 when none exists —
    * the only version a reader may trust (see [[commit]]). Driver-local
    * metadata: one directory listing + one marker probe per version
    * dir. */
  def latestCommitted(spark: SparkSession, root: String): Int = {
    val base = new Path(root)
    val fs = hfs(spark, base)
    if (!fs.exists(base)) return -1
    val vs = fs.listStatus(base).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt).toSeq
    val committed = vs.filter(v =>
      fs.exists(new Path(s"$root/v$v/_COMMITTED")))
    if (committed.isEmpty) -1 else committed.max
  }

  /** Carry a member to `toVersion` untouched — manifest copy only,
    * zero data I/O (the batch touched none of its partitions). */
  def carry(spark: SparkSession, root: String, m: Member, fromVersion: Int,
      toVersion: Int): Unit =
    writeManifest(spark, root, m, toVersion,
      readManifest(spark, root, m, fromVersion))

  /** Write the folded replacement of the TOUCHED partitions at
    * `toVersion` and manifest the rest by reference. `folded` must be
    * the complete new row set of exactly the touched partitions (the
    * caller's fold reads them via [[readParts]] and applies its
    * remove/upsert algebra); a row hashing outside `touched` would be
    * invisible to every later read, so it raises per row, in a filter
    * predicate (prune-proof). */
  def writeFolded(folded: DataFrame, root: String, m: Member,
      fromVersion: Int, toVersion: Int, touched: Set[Int]): Unit = {
    require(touched.forall(k => 0 <= k && k < m.parts),
      s"touched partitions out of range for ${m.name}: $touched")
    val spark = folded.sparkSession
    val man = readManifest(spark, root, m, fromVersion)
    val dir = partsDir(root, m, toVersion)
    if (touched.isEmpty) {
      // nothing to write — but the version must still exist
      writeManifest(spark, root, m, toVersion, man)
      return
    }
    val pc = partOf(col(m.keyCol), m.parts)
    val guarded = folded.filter(
      when(pc.isin(touched.toSeq: _*), lit(true)).otherwise(raise_error(
        concat(lit(s"IndexArtifact(${m.name}): folded row outside the " +
          "touched partition set — key="), col(m.keyCol).cast("string")))))
    guarded.withColumn("_p", pc)
      .coalesce(2).write.mode("overwrite").partitionBy("_p").parquet(dir)
    writeManifest(spark, root, m, toVersion,
      (man -- touched) ++ listWrittenParts(spark, dir).map(_ -> toVersion))
  }

  // ----- the LEXICAL index on this layout (tf/dl/df/totals + optional
  // positional and variant members) -----

  /** Partition layout of a maintained lexical index: doc-keyed members
    * ride `docParts`, term-keyed members `termParts`. */
  final case class LexicalLayout(root: String, docParts: Int = 8,
      termParts: Int = 8, withPositional: Boolean = false,
      withVariants: Boolean = false) {
    val tf: Member = Member("tf", "id", docParts)
    val dl: Member = Member("dl", "id", docParts)
    val pos: Member = Member("pos", "id", docParts)
    val df: Member = Member("df", "term", termParts)
    val vi: Member = Member("vi", "term", termParts)
    // single partition; keyCol unused at parts == 1
    val totals: Member = Member("totals", "_T", 1)
  }

  /** Epoch build: full snapshots of every member at `version`. The six
    * member writes are independent jobs over the shared (persisted)
    * token stats — run concurrently ([[runConcurrently]]); the variant
    * member derives from `s.df` directly (the identical row set the df
    * member writes at this version) instead of reading the df artifact
    * back, which both drops a parquet round-trip and removes the only
    * inter-member write dependency. */
  def writeLexicalFull(lay: LexicalLayout, corpus: DataFrame,
      idCol: String, textCol: String, version: Int): Unit = {
    val s = Bm25.indexStats(corpus, idCol, textCol)
    // frames constructed HERE (tracking is thread-confined); closures
    // below only execute the write actions
    val pos =
      if (lay.withPositional)
        Some(Bm25.positionalPostings(corpus, idCol, textCol))
      else None
    val vi = if (lay.withVariants) Some(Bm25.variantIndex(s.df)) else None
    runConcurrently(Seq[() => Unit](
      () => writeFull(s.tf, lay.root, lay.tf, version),
      () => writeFull(s.dl, lay.root, lay.dl, version),
      () => writeFull(s.df, lay.root, lay.df, version),
      () => writeFull(s.totals.coalesce(1), lay.root, lay.totals, version))
      ++ pos.map(p => () => writeFull(p, lay.root, lay.pos, version))
      ++ vi.map(v => () => writeFull(v, lay.root, lay.vi, version)))
  }

  def readLexicalStats(spark: SparkSession, lay: LexicalLayout,
      version: Int): Bm25.IndexStats =
    Bm25.IndexStats(
      tf = read(spark, lay.root, lay.tf, version),
      dl = read(spark, lay.root, lay.dl, version),
      df = read(spark, lay.root, lay.df, version),
      totals = read(spark, lay.root, lay.totals, version))

  /** One CDC micro-batch (op I/U/D — [[Bm25.applyCdcBatch]]'s event
    * contract verbatim: one event per doc per maintenance window)
    * folded `fromVersion` → `toVersion`: read the touched partitions,
    * fold them with the global member folds, write. The doc-keyed
    * members (tf, dl, pos) read the partitions the batch's doc ids hash
    * into; df and vi read the partitions of the terms whose df can
    * move (the deleted docs' terms and the added docs' terms). Every
    * removed or added row lives in those partitions, so
    * [[Bm25.applyCdcBatch]], [[Bm25.applyCdcBatchPositional]] and
    * [[Bm25.maintainVariantIndex]] over them are row-identical to the
    * full-artifact fold (q314/q321 re-gated hash-equal on this layout).
    * Totals is 1 row, always rewritten. Per-batch I/O: touched
    * partitions only; untouched physical files carry by manifest
    * reference (spec-proven file identity). */
  def applyCdcLexical(lay: LexicalLayout, batch: DataFrame, idCol: String,
      textCol: String, opCol: String, fromVersion: Int,
      toVersion: Int): Unit = {
    val spark = batch.sparkSession
    val b = OperatorCaches.track(batch.select(col(opCol).as("op"),
      col(idCol).as("id"), col(textCol).as("text")).persist())
    val (dels, adds) = Bm25.cdcEvents(b, "id", "op")
    val touchedDoc = touchedParts(b, "id", lay.docParts)
    val baseTf = OperatorCaches.track(
      readParts(spark, lay.root, lay.tf, fromVersion, touchedDoc).persist())
    // indexStats persists the batch's term rows and tf; applyCdcBatch's
    // own build of the same plan below reads them from the cache
    val touchedTerm = touchedParts(
      baseTf.join(KeyedFold.deleteSide(dels, "id"), Seq("id"), "left_semi")
        .select(col("term"))
        .unionByName(Bm25.indexStats(adds, "id", "text").df.select(col("term"))),
      "term", lay.termParts)
    val before = Bm25.IndexStats(tf = baseTf,
      dl = OperatorCaches.track(readParts(spark, lay.root, lay.dl,
        fromVersion, touchedDoc).persist()),
      df = OperatorCaches.track(readParts(spark, lay.root, lay.df,
        fromVersion, touchedTerm).persist()),
      totals = read(spark, lay.root, lay.totals, fromVersion))
    val after = Bm25.applyCdcBatch(before, b, "id", "text", "op")
    val afterDf = OperatorCaches.track(after.df.persist())
    val newPos =
      if (!lay.withPositional) None
      else Some(Bm25.applyCdcBatchPositional(
        readParts(spark, lay.root, lay.pos, fromVersion, touchedDoc),
        b, "id", "text", "op"))

    // the member folds are independent jobs over shared persisted
    // frames — run them concurrently ([[runConcurrently]]; guide §2.6:
    // a one-task totals write no longer serializes behind the tf fold).
    // Frames were all constructed above on this (scope-owning) thread.
    runConcurrently(Seq[() => Unit](
      () => writeFolded(after.tf, lay.root, lay.tf, fromVersion, toVersion,
        touchedDoc),
      () => writeFolded(after.dl, lay.root, lay.dl, fromVersion, toVersion,
        touchedDoc),
      () => writeFolded(afterDf, lay.root, lay.df, fromVersion, toVersion,
        touchedTerm),
      () => writeFull(after.totals.coalesce(1), lay.root, lay.totals,
        toVersion))
      ++ newPos.map(p => () => writeFolded(p, lay.root, lay.pos,
        fromVersion, toVersion, touchedDoc)))

    if (lay.withVariants)
      // born/dead terms are terms whose df moved, so the fold over the
      // touched term partitions equals the global one
      writeFolded(Bm25.maintainVariantIndex(
          readParts(spark, lay.root, lay.vi, fromVersion, touchedTerm),
          before.df, afterDf),
        lay.root, lay.vi, fromVersion, toVersion, touchedTerm)
  }

  /** Partitions `keyCol`'s values hash into — bounded driver-side
    * manifest logic: at most `parts` distinct ints are collected. */
  private[operators] def touchedParts(keys: DataFrame, keyCol: String,
      parts: Int): Set[Int] =
    keys.select(partOf(col(keyCol), parts).as("p")).distinct()
      .collect().map(_.getInt(0)).toSet

  // ----- the QUERY INDEX (percolator members) on this layout -----

  /** Partition layout of a maintained percolator query index. Both
    * members are per-QUERY fact tables ([[Bm25.maintainQueryIndex]]'s
    * contract), so both ride hash(qid): an alert-CDC fold touches only
    * the batch's qid partitions, while serve ([[Bm25.percolate]] /
    * [[Bm25.percolatePhrases]]) reads every partition — correct and
    * cheap, because every standing alert participates in rarest-term
    * routing and the index is ALERT-sized, not corpus-sized. */
  final case class QueryLayout(root: String, qidParts: Int = 8) {
    val qbool: Member = Member("qbool", "qid", qidParts)
    val qphrase: Member = Member("qphrase", "qid", qidParts)
  }

  /** Epoch registration: full snapshots of both members at `version`. */
  def writeQueryFull(lay: QueryLayout, boolIdx: DataFrame,
      phraseIdx: DataFrame, version: Int): Unit =
    runConcurrently(Seq(
      () => writeFull(boolIdx, lay.root, lay.qbool, version),
      () => writeFull(phraseIdx, lay.root, lay.qphrase, version)))

  /** One alert-CDC micro-batch (op I/U/D, one event per qid per
    * maintenance window — [[Bm25.applyCdcBatch]]'s event contract on
    * the alert stream) folded `fromVersion` → `toVersion` touching
    * ONLY the partitions the batch's qids hash into. Events carry the
    * REGISTRATION FIELDS, never index rows: an I/U row with a non-null
    * must text registers into the boolean member
    * ([[Bm25.registerStandingQueries]]) and one with a non-null phrase
    * text into the positional member
    * ([[Bm25.registerStandingPhrases]]); a U/D removes the qid from
    * BOTH members first (deleting an alert retracts every fact it ever
    * contributed). The fold is [[Bm25.maintainQueryIndex]]'s qid
    * algebra confined to the touched partitions — equal to the global
    * fold because a qid's rows all live in its hash partition, added
    * rows land there by construction (the writeFolded guard raises on
    * any stray), and deletes of never-registered qids are no-ops.
    * Per-batch I/O: the batch's qid partitions only; everything else
    * carries by manifest reference. */
  def applyCdcQueryIndex(lay: QueryLayout, batch: DataFrame,
      opCol: String, qidCol: String, mustTextCol: String,
      mustNotTextCol: String, phraseTextCol: String,
      fromVersion: Int, toVersion: Int): Unit = {
    val spark = batch.sparkSession
    val b = OperatorCaches.track(batch.select(col(opCol).as("op"),
      col(qidCol).as("qid"), col(mustTextCol).as("must_text"),
      col(mustNotTextCol).as("not_text"),
      col(phraseTextCol).as("phrase_text")).persist())
    val (dels, adds) = Bm25.cdcEvents(b, "qid", "op")
    val addsB = Bm25.registerStandingQueries(
      adds.filter(col("must_text").isNotNull), "qid", "must_text", "not_text")
    val addsP = Bm25.registerStandingPhrases(
      adds.filter(col("phrase_text").isNotNull), "qid", "phrase_text")
    val touched = touchedParts(b, "qid", lay.qidParts)
    val baseB = readParts(spark, lay.root, lay.qbool, fromVersion, touched)
    val newB = Bm25.maintainQueryIndex(baseB, addsB, dels)
    val baseP = readParts(spark, lay.root, lay.qphrase, fromVersion,
      touched)
    val newP = Bm25.maintainQueryIndex(baseP, addsP, dels)
    // both member folds constructed above; write them concurrently
    runConcurrently(Seq(
      () => writeFolded(newB, lay.root, lay.qbool, fromVersion, toVersion,
        touched),
      () => writeFolded(newP, lay.root, lay.qphrase, fromVersion,
        toVersion, touched)))
  }
}
