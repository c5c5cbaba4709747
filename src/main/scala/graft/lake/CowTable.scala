package graft.lake

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StringType, StructType}

import graft.core.{DerivedFixture, QueryDef, QueryGroup, Tables => T}
import graft.streaming.CommitFiles

/** The lakehouse WRITE path the read-side family ([[ZLayout]]/
  * [[TimeTravel]]/[[StreamLake]]) was missing: versioned snapshots that
  * SHARE unchanged data files (Delta/Iceberg's core economy — a commit
  * re-lists, never re-copies, the files it didn't touch), copy-on-write
  * MERGE INTO, merge-on-read equality deletes, delete compaction, and
  * additive schema evolution.
  *
  * Layout (plain parquet + the repo's pointer-commit protocol):
  * {{{
  *   root/files/g<gen>-f<fid>/   immutable data units, one per (commit
  *                               generation, z-order fid); a unit is
  *                               referenced by any number of snapshots
  *   root/v=<n>/filelist         the snapshot: one row per referenced
  *                               unit (path, fid, n, per-StatsCols
  *                               min/max — the same stats ZLayout's
  *                               manifest carries, so pruned reads work
  *                               across shared files — and the unit's
  *                               data files with their byte lengths)
  *   root/v=<n>/schema           the snapshot's data schema (JSON): the
  *                               union of its units' schemas
  *   root/v=<n>/deletes          OPTIONAL pending equality-delete keys
  *                               (merge-on-read; absent = none)
  *   root/_latest                committed-version pointer
  * }}}
  *
  * Commit protocol (single writer, the StreamMerge rule): data units
  * land in the pool first (deterministic `g<gen>-…` names, so a crashed
  * attempt's debris is overwritten by the replay and invisible until a
  * filelist names it), then the `v=<n>` dir is staged and atomically
  * renamed into place, then the pointer flips. A crash at any point
  * leaves either the old committed state or unreferenced pool files —
  * never a readable half-commit ([[CowSpec]] exercises the
  * stale-target replay).
  *
  * Scale notes. The filelist and schema are the scan plan (Delta's "the
  * log is the listing"): every data read — snapshot, pruned, and a
  * commit's reads of the units it rewrites — plans from them alone, so
  * planning lists no directory and opens no footer at any unit count.
  * Reads collect only the planned units' rows (~1e5 for a 100 TB table
  * at 1 GiB units), which any engine's scan planning needs driver-side.
  * A commit rewrites the units its upsert fids land in plus the units
  * that HOLD a deleted key, found exactly ([[unitsHolding]]) — bounded
  * by change locality, never table size; every other unit is carried by
  * reference. [[deleteWhere]] touches zero data files (the merge-on-read
  * bargain: cheap commit, one anti-join at read). Change sets, the
  * delete file included, are CDC-sized BY CONTRACT ([[compactDeletes]]
  * folds deletes back before they outgrow broadcast range): reads
  * force-broadcast the delete keys and writers hold change keys
  * driver-side on that contract (never AQE size stats).
  *
  * MERGE contract: upsert rows locate their target file via CURRENT
  * clustering values (ck, dy) — an upsert that changes a clustered
  * dimension is a delete+insert, not a merge (the same assumption a
  * stats-pruned Delta merge makes when it skips files by join-key
  * stats). [[mergeInto]] also refuses to run over pending merge-on-read
  * deletes: fold them first ([[compactDeletes]]) — replacing a
  * key while a delete for it is pending has no single right answer, so
  * the table refuses loudly instead of picking one silently.
  */
object CowTable {

  /** Opt-in merge clustering verification — see [[mergeInto]]'s doc for
    * semantics and the cost disclosure. */
  val VerifyClusteringKey = "spark.graft.lake.verifyMergeClustering"

  private def pointer(root: String) = Paths.get(root, "_latest")

  /** A unit's scan plan: its pool name and data files (name, bytes). */
  private[lake] final case class DataUnit(path: String, files: Seq[(String, Long)])

  /** The filelist's fixed schema: reads pass it, so no filelist read
    * starts a schema-inference job. */
  private val FilelistSchema = StructType.fromDDL("path STRING, fid BIGINT, n BIGINT, " +
    ZLayout.StatsCols.map(c => s"${c}_min BIGINT, ${c}_max BIGINT, ").mkString +
    "files ARRAY<STRUCT<name: STRING, len: BIGINT>>")
  private val KeySchema = StructType.fromDDL("o_orderkey BIGINT")

  /** [[ZLayout.ordersProjection]] that PRESERVES any extra (evolved)
    * columns the input carries beyond the orders base schema. */
  private def project(df: DataFrame): DataFrame = {
    val extras = df.columns.toSeq.diff(Seq("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    withFid(df.select((Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate") ++ extras).map(col): _*)
      .withColumn("ck", col("o_custkey") % 65536L)
      .withColumn("dy", datediff(to_date(col("o_orderdate")),
        lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("zkey",
        graft.functions.ZOrderKey.zorderKey(col("ck"), col("dy") % 65536L)))
      .drop("o_orderdate")
  }

  private def withFid(df: DataFrame): DataFrame =
    df.withColumn("fid", expr(s"zkey div ${ZLayout.FidDiv}L"))

  /** The units of (path, files) rows, in path order. */
  private def units(rows: Seq[Row]): Seq[DataUnit] = rows.map(r => DataUnit(r.getString(0),
    Option(r.getSeq[Row](1)).getOrElse(Nil).map(f => (f.getString(0), f.getLong(1)))))
    .sortBy(_.path)

  private def units(fl: DataFrame): Seq[DataUnit] =
    units(fl.select(col("path"), col("files")).collect().toSeq)

  private def without(fl: DataFrame, gone: Seq[DataUnit]): DataFrame =
    if (gone.isEmpty) fl else fl.filter(!col("path").isin(gone.map(_.path): _*))

  /** The manifest-backed scan of `units`, read as `schema`. */
  private[lake] def scan(s: SparkSession, root: String, schema: StructType,
      units: Seq[DataUnit]): DataFrame =
    GraftBridge.parquetFiles(s, schema, units.flatMap { u =>
      require(u.files.nonEmpty, s"cow_table: unit ${u.path} at $root names " +
        "no data files in its filelist")
      u.files.map { case (name, len) => (s"$root/files/${u.path}/$name", len) }
    })

  /** `schema` widened by the columns of rows about to land as units: new
    * columns append (pre-existing units read them as null); a column that
    * changes type is refused, as a mergeSchema read would refuse it. */
  private def widen(schema: StructType, rows: DataFrame): StructType = {
    val add = rows.schema.filter(_.name != "fid")
    add.foreach(f => schema.find(_.name == f.name).foreach(g =>
      require(g.dataType == f.dataType, s"cow_table: column ${f.name} is " +
        s"${g.dataType} in the table but ${f.dataType} in the new rows")))
    StructType((schema ++ add.filterNot(f => schema.fieldNames.contains(f.name)))
      .map(_.copy(nullable = true)))
  }

  /** A unit's row count, then min and max of each [[ZLayout.StatsCols]]
    * column, from its files' footers (what its write recorded: no job
    * re-reads the rows); a column with no non-null value gets nulls. */
  private def footerStats(conf: Configuration, dir: java.io.File, files: Seq[String]): Seq[Any] = {
    val blocks = files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(s"$dir/$f"), conf))
      try r.getFooter.getBlocks.asScala.filter(_.getRowCount > 0).toSeq finally r.close()
    }
    blocks.map(_.getRowCount).sum +: ZLayout.StatsCols.flatMap { c =>
      val st = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == c).get.getStatistics)
      require(!st.exists(_.isEmpty), s"cow_table: unit $dir's footer has no statistics for $c")
      val vs = st.filter(_.hasNonNullValue).flatMap(x => Seq(x.genericGetMin, x.genericGetMax))
        .map(_.asInstanceOf[Number].longValue)
      if (vs.isEmpty) Seq(null, null) else Seq(vs.min, vs.max)
    }
  }

  /** Write `laid` (projected rows with fid) into the pool as
    * `g<gen>-f<fid>` units; returns the filelist rows describing them.
    * Deterministic unit names make a crashed attempt's replay an
    * overwrite. The driver-side steps (move, listing, footer stats) are
    * bounded by the AFFECTED fid count (metadata-scale), never the table
    * — and never re-run `laid`. */
  private def writeUnits(laid: DataFrame, root: String, gen: Long): Seq[Row] = {
    val s = laid.sparkSession
    val staging = s"$root/.staging-g$gen"
    CommitFiles.rmTree(new java.io.File(staging))
    laid.repartition(col("fid"))
      .sortWithinPartitions(col("fid"), col("zkey"))
      .write.mode("overwrite").partitionBy("fid").parquet(staging)
    val pool = new java.io.File(s"$root/files")
    Files.createDirectories(pool.toPath)
    // sweep same-gen debris from a crashed earlier attempt, then move
    Option(pool.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"g$gen-"))
      .foreach(CommitFiles.rmTree)
    val rows = Option(new java.io.File(staging).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("fid=")).sortBy(_.getName).map { f =>
        val fid = f.getName.stripPrefix("fid=").toLong
        val unit = new java.io.File(pool, s"g$gen-f$fid")
        Files.move(f.toPath, unit.toPath, StandardCopyOption.ATOMIC_MOVE)
        val files = unit.listFiles().filterNot(d => d.getName.startsWith(".") ||
          d.getName.startsWith("_")).map(d => (d.getName, d.length())).sorted.toSeq
        Row.fromSeq(Seq(unit.getName, fid) ++ footerStats(s.sparkContext.hadoopConfiguration,
          unit, files.map(_._1)) :+ files.map { case (name, len) => Row(name, len) })
      }.toSeq
    CommitFiles.rmTree(new java.io.File(staging))
    rows
  }

  /** Stage `v=<gen>` (filelist, schema, optional deletes), atomic-rename
    * it into place, flip the pointer. */
  private def commit(root: String, gen: Long, filelist: DataFrame,
      schema: StructType, deletes: Option[DataFrame]): Long = {
    val tmp = s"$root/.tmp-v=$gen"
    CommitFiles.rmTree(new java.io.File(tmp))
    CommitFiles.rmTree(new java.io.File(s"$root/v=$gen")) // crashed pre-flip attempt
    filelist.coalesce(1).write.parquet(s"$tmp/filelist")
    Files.writeString(Paths.get(tmp, "schema"), schema.json)
    deletes.foreach(_.select(col("o_orderkey").cast(LongType)).coalesce(1)
      .write.parquet(s"$tmp/deletes"))
    Files.move(Paths.get(tmp), Paths.get(root, s"v=$gen"),
      StandardCopyOption.ATOMIC_MOVE)
    CommitFiles.atomicWrite(pointer(root), gen.toString)
    gen
  }

  /** Commit v+1: `fl` minus the `retired` units plus `laid` written as
    * new gen-(v+1) units, under v's schema widened by `laid`'s. */
  private def rewrite(root: String, v: Long, fl: DataFrame,
      retired: Seq[DataUnit], laid: DataFrame, deletes: Option[DataFrame]): Long = {
    val added = laid.sparkSession.createDataFrame(
      writeUnits(laid, root, v + 1).asJava, FilelistSchema)
    commit(root, v + 1, without(fl, retired).unionByName(added),
      widen(schemaAt(root, v), laid), deletes)
  }

  private def committedOrFail(root: String): Long =
    CommitFiles.readPointer(pointer(root)).getOrElse(
      throw new IllegalStateException(s"cow_table: nothing committed at $root"))

  private def readFilelist(s: SparkSession, root: String, v: Long): DataFrame =
    s.read.schema(FilelistSchema).parquet(s"$root/v=$v/filelist")

  /** The snapshot's filelist. Version checks ride [[TimeTravel]]'s
    * semantics: retained, committed, loud otherwise. */
  def filelist(s: SparkSession, root: String, v: Long): DataFrame = {
    val have = TimeTravel.versions(root)
    val committed = TimeTravel.latestVersion(root)
    require(have.contains(v),
      s"cow_table: version $v is not retained at $root (have: " +
        s"${have.mkString(", ")}; latest committed: $committed)")
    require(committed.exists(v <= _),
      s"cow_table: version $v at $root is not committed (latest " +
        s"committed: $committed) — an uncommitted snapshot may be torn")
    readFilelist(s, root, v)
  }

  /** The snapshot's data schema, as its commit stored it. */
  private[lake] def schemaAt(root: String, v: Long): StructType = {
    val f = Paths.get(root, s"v=$v", "schema")
    require(Files.exists(f), s"cow_table: v=$v at $root stores no schema")
    DataType.fromJson(Files.readString(f)).asInstanceOf[StructType]
  }

  private[lake] def deletesAt(s: SparkSession, root: String, v: Long): Option[DataFrame] =
    if (Files.exists(Paths.get(root, s"v=$v", "deletes")))
      Some(s.read.schema(KeySchema).parquet(s"$root/v=$v/deletes"))
    else None

  /** `data` minus v's pending merge-on-read deletes, the delete side
    * force-broadcast per the CDC-size contract (see class doc). */
  private def minusDeletes(s: SparkSession, root: String, v: Long,
      data: DataFrame): DataFrame =
    deletesAt(s, root, v).fold(data)(del =>
      data.join(broadcast(del), Seq("o_orderkey"), "left_anti"))

  /** Filelist rows whose o_orderkey stats overlap one of `keys`. */
  private def mayHold(keys: Array[Long]): Column =
    if (keys.isEmpty) lit(false)
    else exists(typedLit(keys), _.between(col("o_orderkey_min"), col("o_orderkey_max")))

  /** The `cand` units (narrowed by [[mayHold]]) that hold at least one of
    * `keys`, exactly: a probe of only the candidates' key column (through
    * the manifest scan) names each unit a key really lives in — a file's
    * parent dir is its unit. The one key→unit locator of delete
    * targeting, delete compaction and the clustering check. */
  private def unitsHolding(s: SparkSession, root: String, cand: Seq[DataUnit],
      keys: Array[Long]): Seq[DataUnit] = {
    if (keys.isEmpty || cand.isEmpty) return Nil
    val hit = scan(s, root, KeySchema, cand)
      .filter(col("o_orderkey").isInCollection(keys))
      .select(element_at(split(col("_metadata.file_path"), "/"), -2))
      .collect().map(_.getString(0)).toSet // one row per key hit: CDC-sized
    cand.filter(u => hit(u.path))
  }

  /** Units of a snapshot, overlap-planned through the shared
    * [[OverlapPlan]] two-mode planner (the filelist IS the COW
    * manifest): driver-local under `spark.graft.lake.localPlanBytes`, a
    * Spark job above it — only SURVIVING units reach the driver,
    * bounded by the true overlap set, never the manifest size, which is
    * the shape that holds at ~10⁶-unit manifests. Both modes compute
    * the identical set (`CowSpec` pins them equal on the COW fixture
    * and at a 200k-unit synthetic filelist). Empty `ranges` = an
    * unpruned read: every committed unit (the full collect is then
    * inherent — the read needs each unit's files). */
  private[lake] def plannedPaths(s: SparkSession, root: String, v: Long,
      ranges: Seq[(String, Long, Long)]): Seq[DataUnit] = {
    val fl = filelist(s, root, v)
    if (ranges.isEmpty) units(fl)
    else units(OverlapPlan.survivors(s, fl,
      OverlapPlan.bytesOf(Paths.get(root, s"v=$v", "filelist")),
      Seq(col("path"), col("files")), ranges))
  }

  /** Read one committed snapshot: the union of its referenced units
    * under the stored snapshot schema (pre-evolution units surface added
    * columns as null), minus pending merge-on-read deletes. */
  def readVersion(s: SparkSession, root: String, v: Long): DataFrame = {
    val planned = plannedPaths(s, root, v, Nil) // checks v first
    minusDeletes(s, root, v, scan(s, root, schemaAt(root, v), planned))
  }

  /** Manifest-pruned snapshot read on any [[ZLayout.StatsCols]] ranges:
    * the filelist doubles as the stats manifest, so pruning works across
    * SHARED units — a unit carried by reference since v=0 still prunes
    * in v=9's read. */
  def prunedRead(s: SparkSession, root: String, v: Long,
      ranges: Seq[(String, Long, Long)]): DataFrame = {
    ranges.foreach { case (c, _, _) => require(ZLayout.StatsCols.contains(c),
      s"cow_table: no stats for column '$c' (have: ${ZLayout.StatsCols.mkString(", ")})") }
    val planned = plannedPaths(s, root, v, ranges) // checks v first
    minusDeletes(s, root, v, ranges.map { case (c, lo, hi) => col(c).between(lo, hi) }
      .foldLeft(scan(s, root, schemaAt(root, v), planned))((df, p) => df.filter(p)))
  }

  /** v=0: the whole table as gen-0 units. */
  def init(s: SparkSession, orders: DataFrame, root: String): Long = {
    Files.createDirectories(Paths.get(root))
    val laid = project(orders)
    commit(root, 0L, s.createDataFrame(writeUnits(laid, root, 0L).asJava,
      FilelistSchema), widen(new StructType(), laid), None)
  }

  /** Copy-on-write MERGE INTO: for each upsert row, replace the matching
    * o_orderkey if present, insert otherwise. Rewrites ONLY the units
    * whose fid an upsert row lands in; every other unit is re-listed by
    * reference (the file-sharing economy — [[CowSpec]] pins that the
    * unaffected paths are literally the same). See the class doc for the
    * clustering contract and the pending-deletes refusal.
    *
    * The clustering contract ('an upsert carries the SAME ck/dy as the
    * stored row, so it lands in the stored row's fid') is enforceable:
    * set [[VerifyClusteringKey]] true and the merge verifies no upsert
    * key already exists in a unit OUTSIDE its rewrite set, refusing
    * loudly instead of silently committing two rows for one key. Cost:
    * a key-column-only probe of the kept units whose o_orderkey stats
    * overlap an upsert key ([[unitsHolding]]) — exact, but since
    * o_orderkey is layout-independent those stats ranges are broad, so
    * the check can approach a key-column table scan; hence opt-in, for
    * writers whose upsert source can't prove its clustering. */
  def mergeInto(s: SparkSession, root: String, upserts: DataFrame): Long =
    applyChanges(s, root, upserts,
      s.createDataFrame(java.util.List.of[Row](), KeySchema))

  /** One COW commit applying a FOLDED CDC batch: upserts (replace by
    * o_orderkey, else insert) plus row deletes, in one new version. The
    * rewrite set is the union of the fids the upsert rows land in and
    * the units that hold a delete key ([[unitsHolding]]) — both bounded
    * by the change set, never the table. A key in BOTH sets is the
    * caller's fold bug (StreamMerge.lastWins exists to collapse a batch
    * to one change per key) and is refused loudly — the alternative is
    * silently picking a winner. */
  def applyChanges(s: SparkSession, root: String, upserts: DataFrame,
      deleteKeys: DataFrame): Long = {
    val v = committedOrFail(root)
    require(deletesAt(s, root, v).isEmpty,
      s"cow_table: v=$v has pending merge-on-read deletes — run " +
        "compactDeletes before mergeInto/applyChanges (a merge over a " +
        "pending delete of the same key has no single right answer)")
    val fl = filelist(s, root, v)
    val proj = project(upserts).persist()
    try {
      // both change sets in one job, which also fills the persisted projection
      val (del, up) = proj.select(col("o_orderkey").cast(LongType), col("fid"), lit(false))
        .union(deleteKeys.select(col("o_orderkey").cast(LongType), lit(null).cast(LongType),
          lit(true))).collect().partition(_.getBoolean(2))
      val delKeys = del.map(_.getLong(0)).distinct
      val upKeys = up.map(_.getLong(0)).distinct
      require(!upKeys.exists(delKeys.toSet),
        "cow_table: a key appears as both an upsert and a delete in one " +
          "batch — fold the batch to one change per key first")
      val upFids = up.map(_.getLong(1)).distinct.sorted // bounded by update locality
      // one job for the upserts' units and the delete probe's candidates
      val isUp = if (upFids.isEmpty) lit(false) else col("fid").isin(upFids: _*)
      val (upRows, cand) = fl.filter(isUp || mayHold(delKeys))
        .select(col("path"), col("files"), isUp).collect().partition(_.getBoolean(2))
      val aff = (units(upRows.toSeq) ++ unitsHolding(s, root, units(cand.toSeq), delKeys))
        .sortBy(_.path)
      // opt-in clustering-contract verification (see mergeInto doc): an
      // upsert key living in a unit we are NOT rewriting means its ck/dy
      // differ from the stored row's — committing would duplicate the key
      if (s.conf.getOption(VerifyClusteringKey).exists(_.toBoolean)) {
        val clash = unitsHolding(s, root, units(without(fl, aff).filter(mayHold(upKeys))), upKeys)
        require(clash.isEmpty,
          s"cow_table: an upsert key already exists in unit " +
            s"${clash.headOption.map(_.path).getOrElse("")} outside its " +
            "clustering target (the upsert's ck/dy differ from the " +
            "stored row's) — merging would commit two rows for one " +
            "key; fix the upsert's clustering columns or rewrite the " +
            "stored row first")
      }
      val merged = withFid(scan(s, root, schemaAt(root, v), aff))
        .filter(!col("o_orderkey").isInCollection(upKeys ++ delKeys))
        .unionByName(proj, allowMissingColumns = true)
      rewrite(root, v, fl, aff, merged, None)
    } finally proj.unpersist()
  }

  /** Merge-on-read equality delete: commits a new snapshot whose
    * filelist is the old one VERBATIM (zero data rewritten, all units
    * shared) plus the keys appended to the pending-delete set. The
    * cheapest possible delete; reads pay one broadcast anti-join until
    * [[compactDeletes]] folds it. */
  def deleteWhere(s: SparkSession, root: String, keys: DataFrame): Long = {
    val v = committedOrFail(root)
    val del = keys.select(col("o_orderkey").cast(LongType)).distinct()
    val all = deletesAt(s, root, v).fold(del)(_.unionByName(del).distinct())
    commit(root, v + 1, filelist(s, root, v), schemaAt(root, v), Some(all))
  }

  /** Fold pending deletes into the data: rewrite ONLY the units that
    * hold a pending key ([[unitsHolding]] — a unit no delete touches is
    * carried by reference), commit a snapshot with an empty delete set.
    * No-op (pointer still advances) when nothing is pending. */
  def compactDeletes(s: SparkSession, root: String): Long = {
    val v = committedOrFail(root)
    val fl = filelist(s, root, v)
    val keys = deletesAt(s, root, v).fold(Array.empty[Long])(_.collect().map(_.getLong(0)).distinct)
    val aff =
      if (keys.isEmpty) Nil else unitsHolding(s, root, units(fl.filter(mayHold(keys))), keys)
    if (aff.isEmpty) commit(root, v + 1, fl, schemaAt(root, v), None)
    else rewrite(root, v, fl, aff, withFid(scan(s, root, schemaAt(root, v), aff))
      .filter(!col("o_orderkey").isInCollection(keys)), None)
  }

  /** Small-file maintenance (the OPTIMIZE of Delta/Iceberg): appends
    * ([[appendEvolved]], the streaming CDC inserts) accumulate several
    * units per fid; this rewrites every SPLIT fid back to one unit and
    * carries everything else by reference. Layout-only — row content is
    * byte-identical (the registry row re-grades it against the same
    * oracle as the pre-optimize read), pending merge-on-read deletes
    * are copied forward untouched, and the rewrite set is exactly the
    * fragmented fids. Mixed-schema units of one fid compact to the
    * snapshot schema with null backfill — the surface a read already
    * serves. With no fid split there is nothing to compact: returns the
    * current version and commits nothing (as Delta and Iceberg do). */
  def optimize(s: SparkSession, root: String): Long = {
    val v = committedOrFail(root)
    val fl = filelist(s, root, v)
    val split = fl.select(col("fid")).collect().map(_.getLong(0)) // 8 bytes a unit
      .groupBy(identity).collect { case (fid, us) if us.length > 1 => fid }.toSeq
    val frag = if (split.isEmpty) Nil else units(fl.filter(col("fid").isin(split: _*)))
    if (frag.isEmpty) v
    else rewrite(root, v, fl, frag, withFid(scan(s, root, schemaAt(root, v), frag)),
      deletesAt(s, root, v))
  }

  /** Retention + garbage collection, in that order: expire all but the
    * newest `keepLast` committed versions ([[TimeTravel.vacuum]] — the
    * v= dirs here are pure metadata), then delete every pool unit no
    * surviving snapshot references. The subtlety that makes COW GC a
    * reachability walk and not an age check: a gen-0 unit SHARED into
    * the latest snapshot must survive v=0's expiry ([[CowSpec]] pins
    * it). Protection rules: units referenced by ANY remaining v= dir
    * (including in-flight ones above the pointer — they belong to their
    * writer) are kept, and units of a generation ABOVE the committed
    * head are never touched (an in-flight writeUnits owns them). Each
    * victim leaves via rename-then-delete, so a crash leaves only
    * invisible `.vacuum-` debris, swept on the next vacuum. Not
    * concurrent-safe with a writer — the single-writer contract covers
    * maintenance too. Returns (expired versions, deleted units). */
  def vacuum(s: SparkSession, root: String, keepLast: Int): (Seq[Long], Seq[String]) = {
    val expired = TimeTravel.vacuum(root, keepLast)
    val pool = new java.io.File(s"$root/files")
    Option(pool.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".vacuum-")).foreach(CommitFiles.rmTree)
    val committed = TimeTravel.latestVersion(root)
      .getOrElse(return (expired, Seq.empty))
    // a torn in-flight dir may lack its filelist; its units are still
    // covered by the generation guard below. One job for every list.
    val referenced = TimeTravel.versions(root)
      .filter(v => Files.exists(Paths.get(root, s"v=$v", "filelist")))
      .map(v => readFilelist(s, root, v).select(col("path")))
      .reduceOption(_.union(_)).fold(Set.empty[String])(
        _.collect().map(_.getString(0)).toSet)
    def genOf(name: String): Long =
      name.stripPrefix("g").takeWhile(_ != '-').toLong
    val victims = Option(pool.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("g") && !referenced(f.getName) &&
        genOf(f.getName) <= committed)
      .sortBy(_.getName)
    victims.foreach { f =>
      val gone = Paths.get(pool.getPath, s".vacuum-${f.getName}")
      Files.move(f.toPath, gone)
      CommitFiles.rmTree(gone.toFile)
    }
    (expired, victims.map(_.getName).toSeq)
  }

  /** Additive schema evolution: append rows that carry EXTRA columns as
    * new (wider-schema) units; every existing unit is shared untouched —
    * the zero-rewrite evolution Iceberg/Delta allow. The snapshot schema
    * widens, so reads across the boundary null-backfill the added
    * columns for pre-evolution units. Appended keys must be new — this
    * is an append, not a merge. */
  def appendEvolved(s: SparkSession, root: String, rows: DataFrame): Long = {
    val v = committedOrFail(root)
    val fl = filelist(s, root, v)
    val laid = project(rows)
    // 'keys must be new' enforced, not just documented (the applyChanges
    // precedent): pending merge-on-read deletes are carried forward by
    // this commit, so appending a key that matches one would silently
    // hide the NEW row at read. One broadcast semi-join against the
    // CDC-sized delete set, only when deletes are pending (the graded
    // chain appends post-compaction, so the common path pays nothing).
    val pending = deletesAt(s, root, v)
    pending.foreach { del =>
      require(laid.join(broadcast(del), Seq("o_orderkey"), "left_semi").isEmpty,
        s"cow_table: appendEvolved keys overlap v=$v's pending " +
          "merge-on-read delete set — the appended rows would be hidden " +
          "at read; run compactDeletes first (appended keys must be NEW)")
    }
    rewrite(root, v, fl, Nil, laid, pending)
  }
}

/** The COW fixtures' shared layout tag. v2: filelists name their data
  * files and each version stores its schema. */
private[graft] abstract class CowDerived(root: String) extends DerivedFixture(root, "orders") {
  override protected[graft] def layoutTag: String = "v2"
}

/** One table, one history: v0 init → v1 COW merge (updates + inserts) →
  * v2 merge-on-read delete → v3 delete compaction → v4 schema-evolved
  * append. Each registry query below reads a DIFFERENT version of this
  * chain against a raw-orders DuckDB replay, so a green board proves
  * every write op AND that later commits never disturb earlier
  * snapshots. All stripes are o_custkey ranges (= ck, custkey < 65536 in
  * the fixtures): clustering-localized, so the COW rewrite set stays a
  * small fid subset ([[CowSpec]] asserts the sharing). */
object CowFixture extends CowDerived("lake_cow") {
  val UpdLo = 100L; val UpdHi = 199L   // update stripe: price += 1.00
  val InsLo = 300L; val InsHi = 349L   // insert stripe: key + InsOffset
  val InsOffset = 2000000000L
  val DelLo = 1000L; val DelHi = 4999L // delete: o_orderkey range
  val EvoLo = 500L; val EvoHi = 549L   // evolved append: key + EvoOffset
  val EvoOffset = 4000000000L

  override protected def build(s: SparkSession, dir: String, target: String): Unit = {
    val orders = T.orders(s, dir)
    CowTable.init(s, orders, target)
    val upd = orders.filter(col("o_custkey").between(UpdLo, UpdHi))
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    val ins = orders.filter(col("o_custkey").between(InsLo, InsHi))
      .withColumn("o_orderkey", col("o_orderkey") + InsOffset)
    CowTable.mergeInto(s, target, upd.unionByName(ins))
    val delKeys = CowTable.readVersion(s, target, 1L)
      .filter(col("o_orderkey").between(DelLo, DelHi))
      .select(col("o_orderkey"))
    CowTable.deleteWhere(s, target, delKeys)
    CowTable.compactDeletes(s, target)
    val evo = orders.filter(col("o_custkey").between(EvoLo, EvoHi))
      .withColumn("o_orderkey", col("o_orderkey") + EvoOffset)
      .withColumn("o_key2", col("o_orderkey") * 2L)
    CowTable.appendEvolved(s, target, evo)
  }
}

/** One folded CDC batch (updates + inserts + deletes) applied to the
  * COW table in a SINGLE commit via [[CowTable.applyChanges]] — the
  * batch core [[graft.streaming.StreamCow]] drives per micro-batch. The
  * delete stripe excludes the update stripe's custkeys so the batch is
  * one-change-per-key (the fold contract applyChanges enforces). */
object CdcFixture extends CowDerived("lake_cdc") {
  val UpdLo = 700L; val UpdHi = 749L   // U: price += 2.00
  val InsLo = 800L; val InsHi = 819L   // I: key + InsOffset
  val InsOffset = 3000000000L
  val DelLo = 5000L; val DelHi = 5999L // D: key range, minus the U stripe

  override protected def build(s: SparkSession, dir: String, target: String): Unit = {
    val orders = T.orders(s, dir)
    CowTable.init(s, orders, target)
    val upd = orders.filter(col("o_custkey").between(UpdLo, UpdHi))
      .withColumn("o_totalprice", col("o_totalprice") + 2.0)
    val ins = orders.filter(col("o_custkey").between(InsLo, InsHi))
      .withColumn("o_orderkey", col("o_orderkey") + InsOffset)
    val del = orders.filter(col("o_orderkey").between(DelLo, DelHi) &&
        !col("o_custkey").between(UpdLo, UpdHi))
      .select(col("o_orderkey"))
    CowTable.applyChanges(s, target, upd.unionByName(ins), del)
  }
}

/** Two localized merges then `vacuum(keepLast = 2)`: v0 expires, its
  * still-shared units must survive the pool GC (reads of v1/v2 would
  * crash on missing files otherwise — the registry row grades that
  * reachability every round), and the unreferenced rewritten-away
  * gen-0 units must be gone ([[CowSpec]] asserts the deletion). */
object CowVacuumFixture extends CowDerived("lake_cow_vacuum") {
  val ALo = 100L; val AHi = 199L // merge A: price += 1.00
  val BLo = 200L; val BHi = 299L // merge B: price += 1.00

  override protected def build(s: SparkSession, dir: String, target: String): Unit = {
    val orders = T.orders(s, dir)
    CowTable.init(s, orders, target)
    def bump(lo: Long, hi: Long) =
      orders.filter(col("o_custkey").between(lo, hi))
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    CowTable.mergeInto(s, target, bump(ALo, AHi)) // disjoint stripes:
    CowTable.mergeInto(s, target, bump(BLo, BHi)) // v2 = both bumps
    val (expired, _) = CowTable.vacuum(s, target, keepLast = 2)
    require(expired == Seq(0L),
      s"cow vacuum fixture: expected to expire v=0, got $expired")
  }
}

/** Two overlapping appends fragment the ck 200–399 fids into three
  * units each, then [[CowTable.optimize]] bin-packs them back — the
  * post-OPTIMIZE read must equal the raw replay of all three row sets
  * (layout maintenance must be invisible to content). */
object CowOptimizeFixture extends CowDerived("lake_cow_opt") {
  val A1Lo = 0L; val A1Hi = 399L;   val A1Off = 5000000000L
  val A2Lo = 200L; val A2Hi = 599L; val A2Off = 6000000000L

  override protected def build(s: SparkSession, dir: String, target: String): Unit = {
    val orders = T.orders(s, dir)
    CowTable.init(s, orders, target)
    def shifted(lo: Long, hi: Long, off: Long) =
      orders.filter(col("o_custkey").between(lo, hi))
        .withColumn("o_orderkey", col("o_orderkey") + off)
    CowTable.appendEvolved(s, target, shifted(A1Lo, A1Hi, A1Off))
    CowTable.appendEvolved(s, target, shifted(A2Lo, A2Hi, A2Off))
    CowTable.optimize(s, target)
  }
}

/** Registry queries over the [[CowFixture]] chain. Oracles replay the
  * whole write history as SQL over RAW orders — fixture freshness, COW
  * row preservation, delete semantics, compaction losslessness, and
  * evolution backfill all graded every round at both scales. */
object CowQueries extends QueryGroup {
  import CowFixture._

  // q40 precedent (operators/Analytics.scala): the driver's hasher
  // cannot canonicalize raw DECIMAL columns, and these sums carry
  // 12-14 significant digits — beyond double-exact round-trip. Every
  // `revenue` output in this family therefore renders the exact
  // DECIMAL(18,2) as a canonical STRING on both engine sides (both
  // print e.g. '506627.00'); scale-2 sums of 2-decimal data are exact.
  private def statusAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(12, 2)))
          .cast(DecimalType(18, 2)).cast(StringType).as("revenue"))
      .orderBy(col("o_orderstatus"))

  // the post-merge table (v1), shared by every oracle below
  private val mergedCte =
    s"""merged AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    CASE WHEN o_custkey BETWEEN $UpdLo AND $UpdHi
       |      THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
       |  FROM orders
       |  UNION ALL
       |  SELECT o_orderkey + $InsOffset, o_orderstatus, o_totalprice
       |  FROM orders WHERE o_custkey BETWEEN $InsLo AND $InsHi)""".stripMargin

  private def statusAggSql(from: String, ctes: String) =
    s"""WITH $ctes
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS revenue
       |FROM $from GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  private def cowMerge(s: SparkSession, d: String): DataFrame =
    statusAgg(CowTable.readVersion(s, CowFixture.ensure(s, d), 1L))

  private val cowMergeSql = statusAggSql("merged", mergedCte)

  private def morDelete(s: SparkSession, d: String): DataFrame =
    statusAgg(CowTable.readVersion(s, CowFixture.ensure(s, d), 2L))

  private val morDeleteSql = statusAggSql(
    s"(SELECT * FROM merged WHERE o_orderkey NOT BETWEEN $DelLo AND $DelHi)",
    mergedCte)

  /** v3 = v2 with the deletes FOLDED: same oracle as [[morDelete]], so a
    * compaction that loses or resurrects a row reds exactly this key
    * (the lake_compact_read precedent). */
  private def morCompact(s: SparkSession, d: String): DataFrame =
    statusAgg(CowTable.readVersion(s, CowFixture.ensure(s, d), 3L))

  /** The evolved snapshot (v4): pre-evolution rows surface o_key2 as
    * null (sum skips them — exactly the oracle's NULL arithmetic). The
    * column guard keeps degenerate tables (no stripe rows → no evolved
    * unit → narrow schema) readable: the consumer of an evolving table
    * must tolerate reading a slice that predates the column. */
  private def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val df = CowTable.readVersion(s, CowFixture.ensure(s, d), 4L)
    val withK2 =
      if (df.columns.contains("o_key2")) df
      else df.withColumn("o_key2", lit(null).cast(LongType))
    withK2.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(12, 2)))
          .cast(DecimalType(18, 2)).cast(StringType).as("revenue"),
        sum(col("o_key2")).as("key2_sum"))
      .orderBy(col("o_orderstatus"))
  }

  private val schemaEvolutionSql =
    s"""WITH $mergedCte,
       |survivors AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice,
       |    CAST(NULL AS BIGINT) AS o_key2
       |  FROM merged WHERE o_orderkey NOT BETWEEN $DelLo AND $DelHi),
       |evolved AS (
       |  SELECT o_orderkey + $EvoOffset AS o_orderkey, o_orderstatus,
       |    o_totalprice, (o_orderkey + $EvoOffset) * 2 AS o_key2
       |  FROM orders WHERE o_custkey BETWEEN $EvoLo AND $EvoHi)
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS revenue,
       |  CAST(SUM(o_key2) AS BIGINT) AS key2_sum
       |FROM (SELECT * FROM survivors UNION ALL SELECT * FROM evolved)
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** The CDC batch's result (one commit: U+I+D), against a raw-orders
    * replay of all three change stripes. */
  private def cdcApply(s: SparkSession, d: String): DataFrame =
    statusAgg(CowTable.readVersion(s, CdcFixture.ensure(s, d), 1L))

  private val cdcApplySql = {
    import CdcFixture.{DelHi, DelLo, InsHi, InsLo, InsOffset, UpdHi, UpdLo}
    statusAggSql("changed",
      s"""changed AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    CASE WHEN o_custkey BETWEEN $UpdLo AND $UpdHi
         |      THEN o_totalprice + 2.0 ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  WHERE NOT (o_orderkey BETWEEN $DelLo AND $DelHi
         |             AND o_custkey NOT BETWEEN $UpdLo AND $UpdHi)
         |  UNION ALL
         |  SELECT o_orderkey + $InsOffset, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_custkey BETWEEN $InsLo AND $InsHi)""".stripMargin)
  }

  /** Per-retained-version revenue over the POST-VACUUM set (the
    * lake_vacuum_read precedent): a vacuum that expired the wrong
    * version adds/loses a row; a pool GC that deleted a unit still
    * shared into a retained version makes the read itself fail. The
    * version loop is retention-policy-bounded metadata (2 here). */
  private def cowVacuum(s: SparkSession, d: String): DataFrame = {
    val p = CowVacuumFixture.ensure(s, d)
    TimeTravel.versions(p).map { v =>
      CowTable.readVersion(s, p, v)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(12, 2)))
            .cast(DecimalType(18, 2)).cast(StringType).as("revenue"))
        .select(lit(v).as("v"), col("n"), col("revenue"))
    }.reduce(_.unionByName(_)).orderBy(col("v"))
  }

  private val cowVacuumSql = {
    import CowVacuumFixture.{AHi, ALo, BHi, BLo}
    def rev(pred: String) =
      s"""SELECT COUNT(*) AS n,
         |    CAST(CAST(SUM(CAST(CASE WHEN $pred THEN o_totalprice + 1.0
         |      ELSE o_totalprice END AS DECIMAL(12,2))) AS DECIMAL(18,2))
         |      AS VARCHAR) AS revenue
         |  FROM orders""".stripMargin
    s"""SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS v, n, revenue FROM (
       |  ${rev(s"o_custkey BETWEEN $ALo AND $AHi")})
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT) AS v, n, revenue FROM (
       |  ${rev(s"o_custkey BETWEEN $ALo AND $AHi OR o_custkey BETWEEN $BLo AND $BHi")}))
       |ORDER BY v""".stripMargin
  }

  /** The post-OPTIMIZE snapshot against a raw replay of the three row
    * sets it bin-packed — layout maintenance graded as content-invisible
    * every round. */
  private def cowOptimize(s: SparkSession, d: String): DataFrame =
    statusAgg(CowTable.readVersion(s, CowOptimizeFixture.ensure(s, d), 3L))

  private val cowOptimizeSql = {
    import CowOptimizeFixture._
    statusAggSql("all3",
      s"""all3 AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + $A1Off, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_custkey BETWEEN $A1Lo AND $A1Hi
         |  UNION ALL
         |  SELECT o_orderkey + $A2Off, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_custkey BETWEEN $A2Lo AND $A2Hi)""".stripMargin)
  }

  // the clustered 2-D predicate of lake_prune_read, over the POST-MERGE
  // snapshot: pruning must stay lossless across units shared from gen 0
  // and units rewritten by the merge (the filelist IS the manifest)
  private val pLo = 200L; private val pHi = 399L
  private val pdLo = 9496L; private val pdHi = 9861L

  /** Manifest-pruned read of the merged COW snapshot (v1): same oracle
    * family as lake_prune_read but the scanned file set mixes shared
    * gen-0 units with gen-1 rewrites — a green row proves the stats rode
    * the rewrite correctly. */
  private def cowPrune(s: SparkSession, d: String): DataFrame =
    statusAgg(CowTable.prunedRead(s, CowFixture.ensure(s, d), 1L,
      Seq(("ck", pLo, pHi), ("dy", pdLo, pdHi))))

  private val cowPruneSql = statusAggSql(
    s"mck WHERE ck BETWEEN $pLo AND $pHi AND dy BETWEEN $pdLo AND $pdHi",
    s"""mck AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    CASE WHEN o_custkey BETWEEN $UpdLo AND $UpdHi
       |      THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
       |    o_custkey % 65536 AS ck,
       |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dy
       |  FROM orders
       |  UNION ALL
       |  SELECT o_orderkey + $InsOffset, o_orderstatus, o_totalprice,
       |    o_custkey % 65536,
       |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |  FROM orders WHERE o_custkey BETWEEN $InsLo AND $InsHi)""".stripMargin)

  // ---- lake_cow_incr_agg: IVM priced by change locality -----------------
  /** Incremental view maintenance over the COW history: the per-status
    * aggregate at v4 computed WITHOUT ever re-scanning the table —
    * starting from the v0 aggregate, each version refresh reads only
    *
    *   - the UNITS the commit added/retired (the filelist diff — COW
    *     merges, compaction, appends), and
    *   - the ROWS a merge-on-read delete commit hid/unhid (the
    *     delete-set diff, located by unit key stats),
    *
    * and merges distributive partials (count/sum subtract exactly).
    * The compaction step is the correctness crux: retiring a unit
    * subtracts rows a pending delete ALREADY subtracted — reversing the
    * vanished delete set adds them back exactly once ([[CowSpec]]'s
    * oracle twin is the full-recompute replay this row grades against).
    * At scale the state is one row per group and each refresh is
    * bounded by the commit's change locality, never table size. */
  private def cowIncrAgg(s: SparkSession, d: String): DataFrame = {
    val p = CowFixture.ensure(s, d)
    // ALL metadata in TWO Spark jobs, not one per version/loop edge: the
    // 5 filelists (key stats and data files riding along) union-collect
    // once, the pending delete sets once — KB-sized metadata at any table
    // size; the unit-key overlap test then runs on it driver-side.
    val flRows = (0L to 4L).map(v =>
        CowTable.filelist(s, p, v).select(lit(v).as("v"), col("path"),
          col("o_orderkey_min"), col("o_orderkey_max"), col("files")))
      .reduce(_.unionByName(_)).collect()
    // (path, key-min, key-max) per version
    val fl: Map[Long, Seq[(String, Long, Long)]] = flRows
      .groupBy(_.getLong(0)).view.mapValues(_.toSeq.map(r =>
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val unitFiles: Map[String, Seq[(String, Long)]] = flRows.map(r =>
      r.getString(1) -> r.getSeq[Row](4).map(f => (f.getString(0), f.getLong(1)))).toMap
    def pathsAt(v: Long): Set[String] =
      fl.getOrElse(v, Seq.empty).map(_._1).toSet
    val dels: Map[Long, Set[Long]] = (0L to 4L)
      .flatMap(v => CowTable.deletesAt(s, p, v).map(_.select(lit(v).as("v"), col("o_orderkey"))))
      .reduceOption(_.unionByName(_)).fold(Array.empty[Row])(_.collect())
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def delsAt(v: Long): Set[Long] = dels.getOrElse(v, Set.empty)
    def readUnits(paths: Iterable[String]): DataFrame =
      CowTable.scan(s, p, CowTable.schemaAt(p, 4L),
          paths.toSeq.sorted.map(x => CowTable.DataUnit(x, unitFiles(x))))
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
    // The version loop's edge diffs are driver-side set algebra on the
    // ALREADY-collected metadata (one aggregation per refresh step was a
    // ~20-stage DAG of KB-sized work), so fold them into NET SIGNS:
    //   - per unit path: +1 when added, -1 when retired, summed over
    //     edges — a unit added then compacted away nets 0 and is never
    //     read at all;
    //   - per (snapshot, delete key): hidden rows subtract at v, a
    //     compaction-reversed delete adds back at v-1, summed the same
    //     way.
    // One signed scan per surviving net value (±1 in any sane history)
    // and a key-membership filter per delete group replace the joins,
    // and ONE final aggregation does all the arithmetic: sum(sign),
    // sum(key·sign), sum(price·sign) are exactly the old per-step
    // partials re-associated — exact integer/decimal sums, so the
    // totals are bit-identical (CowSpec's replay oracle re-grades it).
    val unitSign = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    pathsAt(0L).foreach(x => unitSign(x) += 1)
    val delSign = scala.collection.mutable.Map.empty[(Long, Long), Int]
      .withDefaultValue(0)
    for (v <- 1L to 4L) {
      val (cur, prev) = (pathsAt(v), pathsAt(v - 1))
      val (dCur, dPrev) = (delsAt(v), delsAt(v - 1))
      (cur -- prev).foreach(x => unitSign(x) += 1)
      (prev -- cur).foreach(x => unitSign(x) -= 1)
      (dCur -- dPrev).foreach(k => delSign((v, k)) -= 1)
      (dPrev -- dCur).foreach(k => delSign((v - 1, k)) += 1)
    }
    def signed(df: DataFrame, sg: Int): DataFrame =
      df.withColumn("sign", lit(sg.toLong))
    val unitParts = unitSign.groupBy(_._2).collect {
      case (sg, m) if sg != 0 => signed(readUnits(m.keys), sg)
    }.toSeq
    // rows matching a delete-diff key group inside snapshot v, located
    // through the filelist's key stats — only overlapping units are
    // read (change-bounded); membership is an isInCollection filter on
    // the driver-side key set (KB at any table size), not a join
    val delParts = delSign.groupBy { case ((v, _), sg) => (v, sg) }
      .collect { case ((v, sg), m) if sg != 0 =>
        val keys = m.keys.map(_._2).toSet
        val hit = fl.getOrElse(v, Seq.empty).collect {
          case (path, kmin, kmax) if keys.exists(k => k >= kmin && k <= kmax) =>
            path
        }
        if (hit.isEmpty) None
        else Some(signed(readUnits(hit)
          .filter(col("o_orderkey").isInCollection(keys)), sg))
      }.flatten.toSeq
    (unitParts ++ delParts).reduce(_.unionByName(_))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("sign")).as("n"),
        sum(col("o_orderkey") * col("sign")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(12, 2)) * col("sign"))
          .cast(DecimalType(18, 2)).cast(StringType).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** Full-recompute oracle of the v4 table (the evolution chain's rows,
    * key2 aside) — identical totals prove the incremental path. */
  private val cowIncrAggSql = statusAggSql(
    s"""(SELECT o_orderkey, o_orderstatus, o_totalprice FROM merged
       |  WHERE o_orderkey NOT BETWEEN $DelLo AND $DelHi
       |  UNION ALL
       |  SELECT o_orderkey + $EvoOffset, o_orderstatus, o_totalprice
       |  FROM orders WHERE o_custkey BETWEEN $EvoLo AND $EvoHi) q""".stripMargin,
    mergedCte)

  override def defs: Seq[(String, QueryDef)] = Seq(
    "lake_cow_incr_agg" -> QueryDef(cowIncrAgg, Some(cowIncrAggSql)),
    "lake_cow_prune" -> QueryDef(cowPrune, Some(cowPruneSql)),
    "lake_cow_optimize" -> QueryDef(cowOptimize, Some(cowOptimizeSql)),
    "lake_cow_vacuum" -> QueryDef(cowVacuum, Some(cowVacuumSql)),
    "lake_cdc_apply" -> QueryDef(cdcApply, Some(cdcApplySql)),
    "lake_cow_merge" -> QueryDef(cowMerge, Some(cowMergeSql)),
    "lake_mor_delete" -> QueryDef(morDelete, Some(morDeleteSql)),
    "lake_mor_compact" -> QueryDef(morCompact, Some(morDeleteSql)),
    "lake_schema_evolution" -> QueryDef(schemaEvolution, Some(schemaEvolutionSql)))
}
