package graft.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The COW/MOR table's proof obligations — the parts an oracle replay
  * can't see: snapshots SHARE the units a commit didn't touch (the
  * whole economy of the design), earlier versions are never disturbed,
  * merge-on-read deletes rewrite nothing until compaction folds them
  * stats-targeted, and the contract refusals are loud. */
class CowSpec extends SparkSuite {
  import spark.implicits._

  /** Dense synthetic orders spanning the ck dimension (the LakeSpec grid
    * rationale): custkeys 0..4095 × 16 rows each, so the fixture's
    * custkey stripes land in a PROPER fid subset and sharing is
    * measurable. Built through the real fixture machinery. */
  private lazy val root: String = {
    val src = graft.core.Fixtures.path("cowspec_grid")
    val rows = (0 until 65536).map { i =>
      val ck = (i % 4096).toLong
      val day = (i / 4096) * 100
      val ts = new java.sql.Timestamp((9131L + day) * 86400000L)
      (i.toLong, ck, if (i % 3 == 0) "O" else "F", i * 1.5, ts, "1-URGENT")
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$src/orders.parquet")
    CowFixture.ensure(spark, src)
  }

  private def paths(v: Long, dir: String = root): Set[String] =
    CowTable.filelist(spark, dir, v).select("path")
      .collect().map(_.getString(0)).toSet

  private lazy val grid: DataFrame = {
    root // writes the grid orders
    spark.read.parquet(s"${graft.core.Fixtures.path("cowspec_grid")}/orders.parquet")
  }

  private def keys(df: DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  /** Units of snapshot `v` holding any of `ks`, from a plain Spark read of
    * the unit dirs: independent of CowTable's own key locator. */
  private def holders(dir: String, v: Long, ks: Set[Long]): Set[String] =
    spark.read.parquet(paths(v, dir).toSeq.map(u => s"$dir/files/$u"): _*)
      .filter(col("o_orderkey").isInCollection(ks))
      .select(col("_metadata.file_path")).distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getParent.getName).toSet

  /** Units of snapshot `v` whose o_orderkey stats overlap any of `ks`. */
  private def statsOverlap(dir: String, v: Long, ks: Set[Long]): Set[String] =
    CowTable.filelist(spark, dir, v)
      .select("path", "o_orderkey_min", "o_orderkey_max").collect()
      .filter(r => ks.exists(k => k >= r.getLong(1) && k <= r.getLong(2)))
      .map(_.getString(0)).toSet

  /** (description, stage names) of every Spark job `f` starts. Marker
    * jobs bracket `f`: the listener bus is FIFO, so once the closing
    * marker's start is seen, every job of `f` has been seen. */
  private def jobsOf(f: => Unit): Seq[(String, Seq[String])] = {
    val tag = s"cowspec-marker-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val marks = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc == tag) marks.incrementAndGet()
        else if (marks.get == 1) seen.add((desc, e.stageInfos.map(_.name)))
      }
    }
    val sc = spark.sparkContext
    def mark(): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(1 to 1, 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      mark(); f; mark()
      val deadline = System.nanoTime() + 30000000000L
      while (marks.get < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marks.get == 2, "the listener never saw the closing marker job")
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  test("COW merge rewrites only the touched fids; everything else is shared") {
    val v0 = paths(0L); val v1 = paths(1L)
    val shared = v0 intersect v1
    assert(shared.nonEmpty, "a localized merge must carry most units by reference")
    // every non-shared v0 unit was replaced because an upsert landed in
    // its fid; with custkey stripes 100-199/300-349 over a 4096-wide ck
    // grid the rewrite set must be a small minority
    assert(shared.size.toDouble / v0.size > 0.5,
      s"sharing collapsed: ${shared.size} of ${v0.size} v0 units survive in v1")
    // rewritten units carry the new generation prefix
    assert((v1 -- v0).forall(_.startsWith("g1-")), s"new units must be gen-1")
  }

  test("snapshot isolation: v0 reads identically after the whole chain") {
    val v0 = CowTable.readVersion(spark, root, 0L)
    val orig = spark.read.parquet(
      s"${graft.core.Fixtures.path("cowspec_grid")}/orders.parquet")
    assert(v0.count() == orig.count())
    assert(v0.agg(sum("o_orderkey")).head.getLong(0) ==
      orig.agg(sum("o_orderkey")).head.getLong(0))
    assert(!v0.columns.contains("o_key2"),
      "a pre-evolution snapshot must not grow the evolved column")
  }

  test("merge-on-read delete rewrites ZERO data units") {
    assert(paths(2L) == paths(1L),
      "a MOR delete commit must re-list the data untouched")
    val v1n = CowTable.readVersion(spark, root, 1L).count()
    val v2 = CowTable.readVersion(spark, root, 2L)
    val deleted = CowTable.readVersion(spark, root, 1L)
      .filter(col("o_orderkey").between(CowFixture.DelLo, CowFixture.DelHi))
      .count()
    assert(deleted > 0, "the fixture's delete range must match rows")
    assert(v2.count() == v1n - deleted)
    assert(v2.filter(col("o_orderkey")
      .between(CowFixture.DelLo, CowFixture.DelHi)).count() == 0)
  }

  test("delete compaction folds the keys, stats-targeted, losslessly") {
    assert(!Files.exists(Paths.get(root, "v=3", "deletes")),
      "compaction must commit an empty pending-delete set")
    val v2 = paths(2L); val v3 = paths(3L)
    // only units whose o_orderkey stats overlap the delete range are
    // rewritten; the delete range 1000-4999 is 4k of 64k sequential keys
    val rewritten = v2 -- v3
    val fl2 = CowTable.filelist(spark, root, 2L)
      .select("path", "o_orderkey_min", "o_orderkey_max").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rewritten.foreach { p =>
      val (lo, hi) = fl2(p)
      assert(hi >= CowFixture.DelLo && lo <= CowFixture.DelHi,
        s"$p was rewritten but its key stats [$lo,$hi] miss the delete range")
    }
    assert((v2 intersect v3).nonEmpty, "untouched units must be shared")
    // content identical to the MOR read it replaced
    val a = CowTable.readVersion(spark, root, 2L)
    val b = CowTable.readVersion(spark, root, 3L)
    assert(b.count() == a.count())
    assert(a.join(b, Seq("o_orderkey"), "left_anti").count() == 0)
  }

  test("evolved append shares every old unit and null-backfills reads") {
    val v3 = paths(3L); val v4 = paths(4L)
    assert(v3.subsetOf(v4), "append must touch no existing unit")
    assert((v4 -- v3).nonEmpty, "the evolved stripe must add units")
    val df = CowTable.readVersion(spark, root, 4L)
    assert(df.columns.contains("o_key2"))
    val evolved = df.filter(col("o_key2").isNotNull)
    assert(evolved.count() > 0)
    assert(df.filter(col("o_key2").isNull).count() ==
      CowTable.readVersion(spark, root, 3L).count(),
      "every pre-evolution row must surface the added column as null")
    // the evolved column's invariant: o_key2 = o_orderkey * 2
    assert(evolved.filter(col("o_key2") =!= col("o_orderkey") * 2L).count() == 0)
  }

  test("pruned reads work across units shared from older generations") {
    // prune on the ck stripe NOT touched by any write (shared since v0)
    val pruned = CowTable.prunedRead(spark, root, 4L,
      Seq(("ck", 2000L, 2099L)))
    val full = CowTable.readVersion(spark, root, 4L)
      .filter(col("ck").between(2000L, 2099L))
    assert(pruned.count() == full.count() && pruned.count() > 0)
    val flCount = CowTable.filelist(spark, root, 4L).count()
    assert(pruned.inputFiles.length < flCount,
      s"pruning must skip units (${pruned.inputFiles.length} of $flCount read)")
  }

  test("COW pruned read: local and distributed planning select identical units and rows") {
    // the two-mode planner mirrored from ZLayout.overlapFids: default =
    // collect-the-filelist local planning; LocalPlanBytesKey=0 forces the
    // overlap filter onto the Spark-job path (only surviving paths reach
    // the driver — the ~10⁶-unit manifest shape). Both modes must compute
    // the identical unit set and rows.
    val ranges = Seq(("ck", 200L, 399L), ("dy", 9496L, 9861L))
    val local = CowTable.prunedRead(spark, root, 1L, ranges)
    val localFiles = local.inputFiles.sorted.toSeq
    spark.conf.set(ZLayout.LocalPlanBytesKey, "0")
    try {
      val dist = CowTable.prunedRead(spark, root, 1L, ranges)
      assert(dist.inputFiles.sorted.toSeq == localFiles,
        "COW planning modes disagree on the pruned unit set")
      assert(dist.exceptAll(local).isEmpty && local.exceptAll(dist).isEmpty)
      assert(local.count() > 0)
    } finally spark.conf.unset(ZLayout.LocalPlanBytesKey)
  }

  test("the COW planner handles a 200k-unit filelist; both modes agree at that scale") {
    // the 100 TB-scale datapoint (the batch family's LakeSpec precedent):
    // 200k units is 2x the ~1e5 a 100 TB table carries at 1 GiB units.
    // The filelist is synthetic — plannedPaths only plans, it never
    // opens the units, so the paths need not exist.
    val dir = graft.core.Fixtures.path("cowspec_bigplan")
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
    spark.range(200000).select(
        concat(lit("g0-f"), col("id").cast("string")).as("path"),
        col("id").as("fid"), lit(1L).as("n"),
        (col("id") % 1000L).as("ck_min"), (col("id") % 1000L + 50L).as("ck_max"),
        (col("id") % 500L).as("dy_min"), (col("id") % 500L + 20L).as("dy_max"),
        (col("id") % 700L).as("o_custkey_min"), (col("id") % 700L + 30L).as("o_custkey_max"),
        col("id").as("o_orderkey_min"), (col("id") + 10L).as("o_orderkey_max"))
      .coalesce(2).write.parquet(s"$dir/v=0/filelist")
    graft.streaming.CommitFiles.atomicWrite(Paths.get(dir, "_latest"), "0")
    val ranges = Seq(("ck", 100L, 120L), ("dy", 40L, 60L))
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (local, tl) = timed(CowTable.plannedPaths(spark, dir, 0L, ranges))
    spark.conf.set(ZLayout.LocalPlanBytesKey, "0")
    val (dist, td) =
      try timed(CowTable.plannedPaths(spark, dir, 0L, ranges))
      finally spark.conf.unset(ZLayout.LocalPlanBytesKey)
    assert(local.nonEmpty && local == dist,
      s"COW planning modes disagree at 200k units: local=${local.size} dist=${dist.size}")
    assert(local.size < 200000, "the predicate must actually prune")
    info(f"200k-unit filelist: local plan $tl%.2f s, distributed plan $td%.2f s, " +
      s"${local.size} units selected")
  }

  test("mergeInto refuses to run over pending merge-on-read deletes") {
    val dir = graft.core.Fixtures.path("cowspec_refuse")
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    val orders = graft.core.Tables.orders(spark, sfDir)
      .orderBy("o_orderkey").limit(50)
    val keys = orders.select("o_orderkey").orderBy("o_orderkey")
      .collect().map(_.getLong(0))
    CowTable.init(spark, orders, dir)
    CowTable.deleteWhere(spark, dir,
      orders.filter(col("o_orderkey").isin(keys.take(5): _*))
        .select("o_orderkey"))
    val survivor = keys(10)
    val e = intercept[IllegalArgumentException] {
      CowTable.mergeInto(spark, dir,
        orders.filter(col("o_orderkey") === survivor))
    }
    assert(e.getMessage.contains("pending merge-on-read deletes"), e.getMessage)
    // folding the deletes unblocks the merge; updating a SURVIVING key
    // replaces in place — the row count must hold at 45
    CowTable.compactDeletes(spark, dir)
    CowTable.mergeInto(spark, dir,
      orders.filter(col("o_orderkey") === survivor)
        .withColumn("o_totalprice", lit(9.0)))
    val v3 = CowTable.readVersion(spark, dir, 3L)
    assert(v3.count() == 45)
    assert(v3.filter(col("o_orderkey") === survivor)
      .head.getAs[Double]("o_totalprice") == 9.0)
  }

  test("appendEvolved refuses keys that a pending merge-on-read delete would hide") {
    val dir = graft.core.Fixtures.path("cowspec_append_refuse")
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    val orders = graft.core.Tables.orders(spark, sfDir)
      .orderBy("o_orderkey").limit(50)
    val keys = orders.select("o_orderkey").orderBy("o_orderkey")
      .collect().map(_.getLong(0))
    CowTable.init(spark, orders, dir)
    CowTable.deleteWhere(spark, dir,
      orders.filter(col("o_orderkey").isin(keys.take(5): _*))
        .select("o_orderkey"))
    // re-appending a deleted key: the carried-forward delete set would
    // hide the new row at read — must refuse, not silently commit
    val e = intercept[IllegalArgumentException] {
      CowTable.appendEvolved(spark, dir,
        orders.filter(col("o_orderkey") === keys.head))
    }
    assert(e.getMessage.contains("pending"), e.getMessage)
    // genuinely-new keys append fine even with deletes pending
    CowTable.appendEvolved(spark, dir,
      orders.filter(col("o_orderkey") === keys(10))
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    assert(CowTable.readVersion(spark, dir, 2L).count() == 46)
    // and after folding the deletes the once-refused key is appendable
    CowTable.compactDeletes(spark, dir)
    CowTable.appendEvolved(spark, dir,
      orders.filter(col("o_orderkey") === keys.head))
    assert(CowTable.readVersion(spark, dir, 4L).count() == 47)
  }

  test("opt-in clustering verification refuses an upsert whose ck differs from the stored row") {
    val dir = graft.core.Fixtures.path("cowspec_cluster_guard")
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    val orders = graft.core.Tables.orders(spark, sfDir)
      .orderBy("o_orderkey").limit(50)
    val first = orders.orderBy("o_orderkey").limit(1)
    CowTable.init(spark, orders, dir)
    spark.conf.set(CowTable.VerifyClusteringKey, "true")
    try {
      // legal merge: same clustering columns, lands in the stored row's
      // fid — the verifier finds the key only inside the rewrite set
      CowTable.mergeInto(spark, dir,
        first.withColumn("o_totalprice", lit(7.0)))
      val v1 = CowTable.readVersion(spark, dir, 1L)
      assert(v1.count() == 50)
      // contract violation: same key, shifted o_custkey → different ck →
      // different fid; the stored row's unit is NOT rewritten and the
      // commit would hold two rows for one key — must refuse loudly
      val e = intercept[IllegalArgumentException] {
        CowTable.mergeInto(spark, dir,
          first.withColumn("o_custkey", col("o_custkey") + 30000L))
      }
      assert(e.getMessage.contains("clustering"), e.getMessage)
    } finally spark.conf.unset(CowTable.VerifyClusteringKey)
  }

  test("vacuum GC is a reachability walk: shared gen-0 units survive v0's expiry") {
    val dir = graft.core.Fixtures.path("cowspec_vacuum")
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    val rows = (0 until 4096).map { i =>
      val ts = new java.sql.Timestamp((9131L + (i / 64) * 16) * 86400000L)
      ((i + 100000).toLong, (i % 4096).toLong, "O", i * 1.0, ts, "1-URGENT")
    }
    val orders = rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    CowTable.init(spark, orders, dir)
    CowTable.mergeInto(spark, dir,
      orders.filter(col("o_custkey").between(0L, 99L))
        .withColumn("o_totalprice", lit(7.0)))
    val g0Before = new java.io.File(s"$dir/files").listFiles()
      .map(_.getName).filter(_.startsWith("g0-")).toSet
    val sharedIntoV1 = CowTable.filelist(spark, dir, 1L)
      .select("path").collect().map(_.getString(0))
      .filter(_.startsWith("g0-")).toSet
    val rewrittenAway = g0Before -- sharedIntoV1
    assert(sharedIntoV1.nonEmpty && rewrittenAway.nonEmpty,
      s"fixture must have both shared and rewritten gen-0 units " +
        s"(shared=${sharedIntoV1.size}, away=${rewrittenAway.size})")
    val (expired, deleted) = CowTable.vacuum(spark, dir, keepLast = 1)
    assert(expired == Seq(0L))
    assert(deleted.toSet == rewrittenAway,
      s"GC must delete exactly the unreachable units: got $deleted")
    val pool = new java.io.File(s"$dir/files").listFiles().map(_.getName).toSet
    assert(sharedIntoV1.subsetOf(pool), "shared units must survive the GC")
    // the retained version still reads completely
    assert(CowTable.readVersion(spark, dir, 1L).count() == 4096)
    intercept[IllegalArgumentException] {
      CowTable.readVersion(spark, dir, 0L)
    }
    // idempotent: a second vacuum finds nothing
    assert(CowTable.vacuum(spark, dir, keepLast = 1) == (Seq.empty, Seq.empty))
  }

  test("optimize bin-packs split fids only; content is byte-identical") {
    val dir = graft.core.Fixtures.path("cowspec_opt")
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    val rows = (0 until 8192).map { i =>
      val ts = new java.sql.Timestamp((9131L + (i / 128) * 16) * 86400000L)
      ((i + 200000).toLong, (i % 4096).toLong, "O", i * 1.0, ts, "1-URGENT")
    }
    val orders = rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    CowTable.init(spark, orders, dir)
    CowTable.appendEvolved(spark, dir,
      orders.filter(col("o_custkey") < 400L)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    def unitsPerFid(v: Long) = CowTable.filelist(spark, dir, v)
      .groupBy("fid").count().agg(max("count")).head.getLong(0)
    assert(unitsPerFid(1L) > 1, "the append must fragment some fids")
    val before = CowTable.filelist(spark, dir, 1L).count()
    CowTable.optimize(spark, dir)
    assert(unitsPerFid(2L) == 1, "every fid must compact to one unit")
    assert(CowTable.filelist(spark, dir, 2L).count() < before)
    // untouched single-unit fids are shared, not rewritten
    def pathsAt(v: Long) = CowTable.filelist(spark, dir, v)
      .select("path").collect().map(_.getString(0)).toSet
    assert((pathsAt(1L) intersect pathsAt(2L)).nonEmpty,
      "unfragmented units must be shared")
    // content identical across the layout change
    val a = CowTable.readVersion(spark, dir, 1L)
    val b = CowTable.readVersion(spark, dir, 2L)
    assert(b.count() == a.count())
    assert(a.join(b, Seq("o_orderkey"), "left_anti").count() == 0)
  }

  test("a crashed merge attempt's debris is overwritten by the replay") {
    val dir = graft.core.Fixtures.path("cowspec_debris")
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    val orders = graft.core.Tables.orders(spark, sfDir)
      .orderBy("o_orderkey").limit(40)
    CowTable.init(spark, orders, dir)
    // simulate a crash mid-writeUnits of the NEXT generation: stale
    // staging dir + a half-written gen-1 unit in the pool, both with
    // garbage content no committed filelist references
    Files.createDirectories(Paths.get(dir, ".staging-g1", "fid=0"))
    Files.createDirectories(Paths.get(dir, "files", "g1-f999999"))
    Files.write(Paths.get(dir, "files", "g1-f999999", "junk"),
      "torn".getBytes)
    // the debris is invisible: v0 reads only what its filelist names
    assert(CowTable.readVersion(spark, dir, 0L).count() == 40)
    // the replayed merge sweeps same-gen debris and commits cleanly
    CowTable.mergeInto(spark, dir,
      orders.limit(3).withColumn("o_totalprice", lit(5.0)))
    assert(!Files.exists(Paths.get(dir, "files", "g1-f999999")),
      "same-generation debris must be swept by the replay")
    assert(!Files.exists(Paths.get(dir, ".staging-g1", "fid=0")),
      "stale staging must be gone after the write")
    val v1 = CowTable.readVersion(spark, dir, 1L)
    assert(v1.count() == 40)
    assert(v1.filter(col("o_totalprice") === 5.0).count() == 3)
  }

  test("an uncommitted snapshot dir is refused, not served") {
    val dir = graft.core.Fixtures.path("cowspec_torn")
    graft.streaming.CommitFiles.rmTree(new java.io.File(dir))
    val orders = graft.core.Tables.orders(spark, sfDir).limit(20)
    CowTable.init(spark, orders, dir)
    // simulate a crash between v=1 staging-rename and pointer flip
    Files.createDirectories(Paths.get(dir, "v=1"))
    spark.range(1).select(lit("g9-f0").as("path")).write
      .parquet(s"$dir/v=1/filelist")
    val e = intercept[IllegalArgumentException] {
      CowTable.readVersion(spark, dir, 1L)
    }
    assert(e.getMessage.contains("not committed"), e.getMessage)
    assert(CowTable.readVersion(spark, dir, 0L).count() == 20,
      "the committed head must stay readable past the torn dir")
  }

  test("optimize with no split fid commits nothing and returns the current version") {
    val dir = freshDir("cowspec_opt_noop")
    val orders = graft.core.Tables.orders(spark, sfDir)
      .orderBy("o_orderkey").limit(40)
    CowTable.init(spark, orders, dir)
    CowTable.mergeInto(spark, dir,
      orders.limit(3).withColumn("o_totalprice", lit(5.0)))
    val before = TimeTravel.versions(dir)
    assert(before == Seq(0L, 1L))
    assert(CowTable.optimize(spark, dir) == 1L)
    assert(TimeTravel.versions(dir) == before, "a no-op optimize must write no v= dir")
    assert(TimeTravel.latestVersion(dir) == Some(1L), "the pointer must not move")
  }

  test("a CDC batch rewrites exactly the units holding an upsert or a deleted key") {
    val dir = freshDir("cowspec_cdc_exact")
    CowTable.init(spark, grid, dir)
    // deletes fall inside the upsert stripe (odd keys of ck 100-199 beside
    // the even-key updates of ck 100-149) plus one far key; inserts copy
    // updated rows' ck/dy, so they land in the updated rows' units
    val upd = grid.filter(col("o_custkey").between(100L, 149L) &&
        col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    val ins = upd.filter(col("o_custkey") < 120L)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    val del = grid.filter((col("o_custkey").between(100L, 199L) &&
        col("o_orderkey") % 2 === 1) || col("o_orderkey") === 3000L + 4096L * 5)
      .select("o_orderkey")
    val delKeys = keys(del)
    val expected = holders(dir, 0L, keys(upd) ++ delKeys)
    // the stats rule alone would pick more: exactness is observable here
    assert(statsOverlap(dir, 0L, delKeys).size > holders(dir, 0L, delKeys).size)
    assert(expected.size < paths(0L, dir).size)
    CowTable.applyChanges(spark, dir, upd.unionByName(ins), del)
    assert(paths(0L, dir) -- paths(1L, dir) == expected)
    assert(CowTable.readVersion(spark, dir, 1L).count() ==
      grid.count() + ins.count() - delKeys.size)

    // the merge-on-read path: compaction rewrites exactly the key holders
    val mor = freshDir("cowspec_compact_exact")
    CowTable.init(spark, grid, mor)
    CowTable.deleteWhere(spark, mor, del)
    val holding = holders(mor, 1L, delKeys)
    assert(statsOverlap(mor, 1L, delKeys).size > holding.size)
    CowTable.compactDeletes(spark, mor)
    assert(paths(1L, mor) -- paths(2L, mor) == holding)
    val v2 = CowTable.readVersion(spark, mor, 2L)
    assert(v2.count() == grid.count() - delKeys.size)
    assert(v2.filter(col("o_orderkey").isInCollection(delKeys)).isEmpty)
  }

  test("a read of more than 32 units starts no listing or schema-inference job") {
    val dir = freshDir("cowspec_wide")
    // custkeys over the whole 16-bit ck range: 64 fids, one unit each
    val rows = (0 until 4096).map { i =>
      ((i + 300000).toLong, i * 16L, "O", i * 1.0,
        new java.sql.Timestamp(9131L * 86400000L), "1-URGENT")
    }
    CowTable.init(spark, rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"), dir)
    // Spark lists more than 32 paths with a parallel listing job
    assert(paths(0L, dir).size > 32)
    var n = 0L
    val jobs = jobsOf { n = CowTable.readVersion(spark, dir, 0L).count() }
    assert(n == 4096)
    assert(!jobs.exists(_._1.startsWith("Listing leaf files")),
      s"a listing job ran: $jobs")
    // DataFrameReader.parquet's jobs (listing, footer schema inference)
    // carry its call site
    assert(!jobs.exists(_._2.exists(_.startsWith("parquet at"))),
      s"a schema-inference job ran: $jobs")
    info(s"${jobs.size} jobs: ${jobs.flatMap(_._2).distinct.mkString(", ")}")
  }
}
