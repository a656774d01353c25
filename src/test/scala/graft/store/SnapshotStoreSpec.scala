package graft.store

import graft.SparkSuite
import graft.etl.Dimensions
import graft.model.FixedClock
import org.apache.spark.sql.functions._

class SnapshotStoreSpec extends SparkSuite {

  import spark.implicits._

  test("history: one metadata-only row per version with inferred operation kind") {
    val root = java.nio.file.Files.createTempDirectory("graft-snaphist").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(10).toDF("id"), t)                 // v0 create
    SnapshotStore.deleteCommit(spark, t, Seq("id"),
      org.apache.spark.sql.functions.col("id") < 3)                     // v1 delete
    SnapshotStore.commit(spark.range(20).toDF("id"), t)                 // v2 rewrite
    val h = SnapshotStore.history(spark, t)
      .orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getInt(3)))
    assert(h.toSeq === Seq((0L, "create", 0), (1L, "delete", 1), (2L, "rewrite", 0)))
    // commit clocks are monotone (CAS-serialized versions)
    val ts = SnapshotStore.history(spark, t).orderBy("version")
      .collect().map(_.getLong(1))
    assert(ts.sorted.toSeq === ts.toSeq)
  }

  test("commit/read roundtrip, monotone versions, time travel") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = s"$root/t"
    assert(SnapshotStore.currentVersion(spark, t).isEmpty)
    assert(SnapshotStore.commit(spark.range(10).toDF("id"), t) === 0L)
    assert(SnapshotStore.commit(spark.range(25).toDF("id"), t) === 1L)
    assert(SnapshotStore.read(spark, t).count() === 25)
    assert(SnapshotStore.readVersion(spark, t, 0L).count() === 10)
    assert(SnapshotStore.versions(spark, t) === Seq(0L, 1L))
    intercept[IllegalArgumentException](SnapshotStore.readVersion(spark, t, 7L))
  }

  test("schema evolution across versions: each snapshot is self-contained, merges can add columns") {
    val root = java.nio.file.Files.createTempDirectory("graft-snapev").toString
    val t = s"$root/t"
    SnapshotStore.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    // v1 adds a column (widening evolution) — full-snapshot versioning
    // makes this free: no mergeSchema read, no backfill coordination
    val evolved = SnapshotStore.read(spark, t).withColumn("score", col("k") * 10.0)
    SnapshotStore.commit(evolved, t)
    assert(SnapshotStore.read(spark, t).columns.toSeq === Seq("k", "v", "score"))
    // time travel still serves the ORIGINAL schema, not a merged one
    assert(SnapshotStore.readVersion(spark, t, 0L).columns.toSeq === Seq("k", "v"))
    // a MERGE against the evolved table fills the new column for inserts
    val src = Seq((3L, "c", 30.0)).toDF("k", "v", "score")
    graft.ops.ChangeData.mergeCommit(
      spark, t, src, Seq("k"),
      updateSet = Map("score" -> org.apache.spark.sql.functions.col("__s.score")))
    val cur = SnapshotStore.read(spark, t).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(cur === Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("an unpublished data directory is invisible; visibility flips at the marker") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap2").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(10).toDF("id"), t)
    // a writer mid-rewrite: v=1 data exists (even complete!) but no marker
    spark.range(1000).toDF("id").write.parquet(SnapshotStore.versionDir(t, 1L))
    assert(SnapshotStore.currentVersion(spark, t) === Some(0L))
    assert(SnapshotStore.read(spark, t).count() === 10, "reader must not see the unpublished rewrite")
    // the marker lands -> the new snapshot is the table, atomically
    SnapshotStore.publishMarker(spark, t, 1L)
    assert(SnapshotStore.read(spark, t).count() === 1000)
  }

  test("restoreCommit rolls back to a retained version as an O(1) new head") {
    val root = java.nio.file.Files.createTempDirectory("graft-snaprestore").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(100).toDF("id"), t)            // v0
    SnapshotStore.appendCommit(spark.range(100, 150).toDF("id"), t) // v1 (file-granular)
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") < 10) // v2 (DVs live)
    SnapshotStore.commit(spark.range(999).toDF("id"), t)            // v3 fat-finger rewrite

    // restore to the DV-bearing v2: head v4 reads exactly what v2 read
    val v4 = SnapshotStore.restoreCommit(spark, t, 2L)
    assert(v4 === 4L)
    assert(SnapshotStore.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
      === (10L until 150L).toSeq)
    // history: op recorded, restored-from version recorded, clock fresh
    val m4 = SnapshotStore.manifest(spark, t, 4L)
    assert(m4.op === "restore" && m4.srcV === 2L)
    assert(m4.ts >= SnapshotStore.manifest(spark, t, 3L).ts, "restore must take a fresh clock")
    // the bad head v3 remains readable until vacuum
    assert(SnapshotStore.readVersion(spark, t, 3L).count() === 999)
    // restoring the current head is a no-op
    assert(SnapshotStore.restoreCommit(spark, t, 4L) === 4L)
    intercept[IllegalArgumentException](SnapshotStore.restoreCommit(spark, t, 99L))

    // vacuum keep=2 retains v3,v4; v4 references v0+v1's FILES and v2's
    // DV, so the refcount must keep them all alive through the sweep
    SnapshotStore.vacuum(spark, t, keep = 2)
    assert(SnapshotStore.versions(spark, t) === Seq(3L, 4L))
    assert(SnapshotStore.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
      === (10L until 150L).toSeq)
  }

  test("vacuum keeps the newest snapshots and collects crashed-writer orphans") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap3").toString
    val t = s"$root/t"
    (0 until 4).foreach(i => SnapshotStore.commit(spark.range(10 + i).toDF("id"), t))
    // crashed writer: orphan data dir below current, never committed
    spark.range(5).toDF("id").write.parquet(s"$t/v=__broken")
    spark.range(5).toDF("id").write.parquet(SnapshotStore.versionDir(t, 2L) + "_junkdir")
    val deleted = SnapshotStore.vacuum(spark, t, keep = 2)
    assert(deleted === Seq(0L, 1L))
    assert(SnapshotStore.versions(spark, t) === Seq(2L, 3L))
    assert(SnapshotStore.read(spark, t).count() === 13)
    // idempotent
    assert(SnapshotStore.vacuum(spark, t, keep = 2).isEmpty)
  }

  test("concurrent reader during SCD2 merge sees old or new snapshot, never a mix") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap4").toString
    val t = s"$root/dim"
    val attrs0 = Seq(("alice", "nyc"), ("bob", "sf"), ("carol", "ldn")).toDF("name", "city")
    val dim0 = Dimensions.scd2InitialLoad(
      attrs0, "k", Seq(col("name")), FixedClock("2024-06-01 00:00:00"))
    SnapshotStore.commit(dim0, t)

    val oldRows = SnapshotStore.read(spark, t).collect().toSet
    // every key changes city -> merge expires 3 rows and inserts 3
    val attrs1 = Seq(("alice", "berlin"), ("bob", "tokyo"), ("carol", "rome")).toDF("name", "city")

    @volatile var failure: Option[String] = None
    @volatile var done = false
    val reader = new Thread(() => {
      try {
        while (!done) {
          val snap = SnapshotStore.read(spark, t).collect()
          // snapshot invariants that any torn old/new file mix breaks:
          // exactly one current row per key, and a row total of a whole
          // snapshot (3 pre-merge, 6 post-merge)
          val perKeyCurrent = snap.filter(_.getAs[Boolean]("is_current"))
            .groupBy(_.getAs[String]("name")).view.mapValues(_.length).toMap
          if (!(snap.length == 3 || snap.length == 6))
            failure = Some(s"torn snapshot: ${snap.length} rows")
          else if (perKeyCurrent.values.exists(_ != 1) || perKeyCurrent.size != 3)
            failure = Some(s"current-row invariant broken: $perKeyCurrent")
        }
      } catch { case e: Throwable => failure = Some(s"reader died: $e") }
    })
    reader.start()
    try {
      Dimensions.scd2MergeCommit(
        spark, t, attrs1, Seq("name"), "k", Seq("name"), FixedClock("2024-07-01 00:00:00"))
    } finally {
      done = true; reader.join(30000)
    }
    assert(failure.isEmpty, failure.getOrElse(""))

    val newSnap = SnapshotStore.read(spark, t)
    assert(newSnap.count() === 6)
    assert(newSnap.filter(col("is_current")).count() === 3)
    assert(newSnap.filter(col("city") === "berlin" && col("is_current")).count() === 1)
    // the previous snapshot is still readable (grace version for pinned readers)
    assert(SnapshotStore.readVersion(spark, t, 0L).collect().toSet === oldRows)
  }

  test("optimistic concurrency: CAS marker publish admits exactly one writer per version") {
    val root = java.nio.file.Files.createTempDirectory("graft-cas").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(5).toDF("id"), t)
    // stage two competing v=1 data dirs, then race the markers
    val dirA = s"$t/v=1__writerA"
    val dirB = s"$t/v=1__writerB"
    spark.range(100).toDF("id").write.parquet(dirA)
    spark.range(200).toDF("id").write.parquet(dirB)
    val winA = SnapshotStore.tryPublishManifest(spark, t, 1L, SnapshotStore.Manifest(dirA, Nil, Nil))
    val winB = SnapshotStore.tryPublishManifest(spark, t, 1L, SnapshotStore.Manifest(dirB, Nil, Nil))
    assert(winA && !winB, "exactly one marker creation may win")
    assert(SnapshotStore.read(spark, t).count() === 100)
  }

  test("commitTransform: two concurrent appenders rebase, neither update is lost") {
    val root = java.nio.file.Files.createTempDirectory("graft-mw").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(0, 10).toDF("id"), t)

    def appender(lo: Long, hi: Long): Thread = new Thread(() => {
      SnapshotStore.commitTransform(spark, t, {
        case Some(cur) => cur.union(spark.range(lo, hi).toDF("id"))
        case None      => spark.range(lo, hi).toDF("id")
      })
    })
    val t1 = appender(100, 110)
    val t2 = appender(200, 210)
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)

    // both deltas present regardless of commit order: the loser re-derived
    // against the winner's snapshot instead of clobbering it
    val ids = SnapshotStore.read(spark, t).collect().map(_.getLong(0)).toSet
    assert((100L until 110L).forall(ids.contains), "appender A's rows survived")
    assert((200L until 210L).forall(ids.contains), "appender B's rows survived")
    assert(ids.size === 30)
    assert(SnapshotStore.versions(spark, t) === Seq(0L, 1L, 2L))
  }

  test("commitTransform rebases when another writer claims the version mid-flight") {
    val root = java.nio.file.Files.createTempDirectory("graft-rebase").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(10).toDF("id"), t)
    var calls = 0
    val v = SnapshotStore.commitTransform(spark, t, { base =>
      calls += 1
      if (calls == 1) {
        // a rival writer lands v=1 while our first derivation is in flight
        SnapshotStore.commit(spark.range(50).toDF("id"), t)
      }
      base.get.union(spark.range(1000, 1001).toDF("id"))
    })
    assert(calls === 2, "the transform must re-derive against the rival's snapshot")
    assert(v === 2L)
    // derived from the RIVAL's 50 rows (not the stale 10) + our append
    assert(SnapshotStore.read(spark, t).count() === 51)
  }

  test("deleteCommit is merge-on-read: data dir reused, reads anti-join DVs, rewrite materializes") {
    val root = java.nio.file.Files.createTempDirectory("graft-dv").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(100).toDF("id"), t)
    val m0 = SnapshotStore.manifest(spark, t, 0L)

    val v1 = SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") % 10 === 0)
    assert(v1 === 1L)
    val m1 = SnapshotStore.manifest(spark, t, 1L)
    assert(m1.data === m0.data, "delete commit must NOT rewrite the data directory")
    assert(m1.deletes.size === 1 && m1.keyCols === Seq("id"))
    assert(SnapshotStore.read(spark, t).count() === 90)

    // successive deletes accumulate; second predicate applies to LIVE rows
    val v2 = SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") < 20)
    assert(v2 === 2L)
    assert(SnapshotStore.manifest(spark, t, 2L).deletes.size === 2)
    val live = SnapshotStore.read(spark, t).collect().map(_.getLong(0)).toSet
    assert(live === (20L until 100L).filterNot(_ % 10 == 0).toSet)

    // time travel shows pre-delete and first-delete states unchanged
    assert(SnapshotStore.readVersion(spark, t, 0L).count() === 100)
    assert(SnapshotStore.readVersion(spark, t, 1L).count() === 90)

    // a full rewrite (compaction) materializes the DVs away
    val (_, _, _, v3) = graft.ops.Bucketing.compactCommit(spark, t, 1L << 30)
    assert(v3 === 3L)
    val m3 = SnapshotStore.manifest(spark, t, 3L)
    assert(m3.deletes.isEmpty && m3.data != m1.data)
    assert(SnapshotStore.read(spark, t).collect().map(_.getLong(0)).toSet === live)
  }

  test("vacuum reference-counts shared data dirs and collects unreferenced DV files") {
    val root = java.nio.file.Files.createTempDirectory("graft-dvgc").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(100).toDF("id"), t)          // v0
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") < 10)  // v1 shares v0's data
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") < 20)  // v2 shares too
    val shared = SnapshotStore.manifest(spark, t, 0L).data

    // keep=2 retains v1,v2 — both still reference v0's data dir, so the
    // dir must survive even though v0's marker ages out
    assert(SnapshotStore.vacuum(spark, t, keep = 2) === Seq(0L))
    val f = new org.apache.hadoop.fs.Path(shared)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(shared)), "shared data dir must survive GC")
    assert(SnapshotStore.read(spark, t).count() === 80)

    // rewrite (materializes DVs, fresh dir), then vacuum keep=1: the old
    // shared dir and both DV files are now unreferenced → collected
    SnapshotStore.commit(SnapshotStore.read(spark, t), t)         // v3
    assert(SnapshotStore.vacuum(spark, t, keep = 1) === Seq(1L, 2L))
    assert(!f.exists(new org.apache.hadoop.fs.Path(shared)), "unreferenced data dir collected")
    val dvRoot = new org.apache.hadoop.fs.Path(s"$t/_deletes")
    assert(!f.exists(dvRoot) || f.listStatus(dvRoot).isEmpty, "unreferenced DV files collected")
    assert(SnapshotStore.read(spark, t).count() === 80)
  }

  test("AS OF timestamp time travel resolves the newest snapshot at or before the instant") {
    val root = java.nio.file.Files.createTempDirectory("graft-asof").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(10).toDF("id"), t)   // v0
    Thread.sleep(5)
    SnapshotStore.commit(spark.range(20).toDF("id"), t)   // v1
    Thread.sleep(5)
    SnapshotStore.commit(spark.range(30).toDF("id"), t)   // v2
    val ts = (0L to 2L).map(v => SnapshotStore.manifest(spark, t, v).ts)
    assert(ts.forall(_ > 0L) && ts == ts.sorted, s"commit times must be monotone: $ts")
    assert(SnapshotStore.readAsOf(spark, t, ts(0)).count() === 10)
    assert(SnapshotStore.readAsOf(spark, t, ts(1)).count() === 20)
    assert(SnapshotStore.readAsOf(spark, t, (ts(1) + ts(2)) / 2).count() === 20,
      "between commits resolves the EARLIER snapshot")
    assert(SnapshotStore.readAsOf(spark, t, System.currentTimeMillis() + 60000).count() === 30)
    intercept[IllegalArgumentException](SnapshotStore.readAsOf(spark, t, ts(0) - 1))
  }

  test("compactCommit rewrites small files into one snapshot-isolated version") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap5").toString
    val t = s"$root/t"
    // many tiny files in the committed snapshot
    SnapshotStore.commit(spark.range(10000).toDF("id").repartition(64), t)
    val (before, after, bytes, v) = graft.ops.Bucketing.compactCommit(spark, t, 1L << 30)
    assert(before === 64 && after === 1 && bytes > 0 && v === 1L)
    assert(SnapshotStore.read(spark, t).count() === 10000)
    assert(SnapshotStore.readVersion(spark, t, 0L).count() === 10000)
  }

  test("appendCommit is O(new-files): old bytes never move, manifest accretes file actions") {
    val root = java.nio.file.Files.createTempDirectory("graft-append").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(100).toDF("id"), t)                       // v0 dir-granular
    val v0Files = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, t, 0L))
    val v0Mtimes = v0Files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      f -> p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getModificationTime
    }.toMap

    val v1 = SnapshotStore.appendCommit(spark.range(100, 150).toDF("id").coalesce(2), t)
    assert(v1 === 1L)
    val m1 = SnapshotStore.manifest(spark, t, 1L)
    assert(m1.files.nonEmpty && m1.op === "append", s"append manifest must be file-granular: $m1")
    // the append LINKS v0's files — no byte of them was rewritten
    assert(v0Files.toSet.subsetOf(m1.files.toSet), "append must carry predecessor files forward")
    v0Files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val mt = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getModificationTime
      assert(mt === v0Mtimes(f), s"append rewrote an existing file: $f")
    }
    assert(m1.files.size - v0Files.size === 2, "exactly the staged files were added")
    assert(SnapshotStore.read(spark, t).count() === 150)
    assert(SnapshotStore.readVersion(spark, t, 0L).count() === 100, "time travel past the append")

    // append chains compose; second append links the first's manifest files directly
    SnapshotStore.appendCommit(spark.range(150, 160).toDF("id").coalesce(1), t)
    assert(SnapshotStore.read(spark, t).count() === 160)
    assert(SnapshotStore.read(spark, t).agg(sum(col("id"))).head().getLong(0) === (0L until 160L).sum)
    val h = SnapshotStore.history(spark, t).orderBy("version").collect().map(_.getString(2))
    assert(h.toSeq === Seq("create", "append", "append"))
  }

  test("appendCommit coexists with live SCOPED deletion vectors; DVs carry forward") {
    val root = java.nio.file.Files.createTempDirectory("graft-appdv").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(50).toDF("id"), t)
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") < 10)
    // scoped DVs (the default since file scopes landed) allow the append:
    // the DV covers only v0's files, so the appended rows are untouched —
    // including a RE-APPENDED previously deleted key
    SnapshotStore.appendCommit(spark.range(100, 110).toDF("id").coalesce(1), t)
    assert(SnapshotStore.read(spark, t).count() === 40 + 10)
    val m = SnapshotStore.manifest(spark, t, 2L)
    assert(m.deletes.nonEmpty && m.keyCols === Seq("id"),
      "append must carry the live DVs forward in its manifest")
    SnapshotStore.appendCommit(spark.range(5, 7).toDF("id").coalesce(1), t)
    assert(SnapshotStore.read(spark, t).filter(col("id") < 10).count() === 2,
      "re-appended previously-deleted keys are NEW rows, not resurrected ones")
    // compaction still materializes the DVs away entirely
    val (_, _, _, v) = graft.ops.Bucketing.compactCommit(spark, t, 1L << 30)
    assert(SnapshotStore.manifest(spark, t, v).deletes.isEmpty)
    assert(SnapshotStore.read(spark, t).count() === 52)
  }

  test("delete commits over an append chain reuse the file list; reads stay DV-correct") {
    val root = java.nio.file.Files.createTempDirectory("graft-appdel").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(30).toDF("id"), t)                  // v0
    SnapshotStore.appendCommit(spark.range(30, 60).toDF("id").coalesce(1), t) // v1
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") % 2 === 0) // v2: DV over both generations
    val m2 = SnapshotStore.manifest(spark, t, 2L)
    assert(m2.files === SnapshotStore.manifest(spark, t, 1L).files,
      "delete commit must share the append chain's file list")
    assert(SnapshotStore.read(spark, t).count() === 30)
    assert(SnapshotStore.read(spark, t).filter(col("id") % 2 === 0).count() === 0)
  }

  test("vacuum reference-counts FILES across append chains") {
    val root = java.nio.file.Files.createTempDirectory("graft-appvac").toString
    val t = s"$root/t"
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.commit(spark.range(40).toDF("id"), t)                        // v0
    SnapshotStore.appendCommit(spark.range(40, 80).toDF("id").coalesce(1), t)  // v1 links v0 files
    SnapshotStore.commit(spark.range(5).toDF("id"), t)                         // v2 rewrite
    SnapshotStore.appendCommit(spark.range(5, 9).toDF("id").coalesce(1), t)    // v3 links v2 files

    // keep v2+v3: v0/v1 markers go; v0's files were ALSO linked by v1 only
    // (both doomed) so the whole old chain's bytes must be collected,
    // while v2's dir survives because v3 links its files
    val dropped = SnapshotStore.vacuum(spark, t, keep = 2)
    assert(dropped === Seq(0L, 1L))
    assert(SnapshotStore.versions(spark, t) === Seq(2L, 3L))
    val dirs = fsys.listStatus(new org.apache.hadoop.fs.Path(t)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v="))
    // v0 staging dir fully dead -> gone; v1's append stage also gone
    val liveFiles = SnapshotStore.manifest(spark, t, 3L).files
    assert(SnapshotStore.read(spark, t).count() === 9, "retained chain must read whole")
    liveFiles.foreach { f =>
      assert(fsys.exists(new org.apache.hadoop.fs.Path(f)), s"vacuum deleted a live file: $f")
    }
    val deadDirsRemaining = dirs.filter { d =>
      SnapshotStore.vacuum(spark, t, keep = 2) // idempotent
      val keep = liveFiles.exists(f => new org.apache.hadoop.fs.Path(f).getParent.getName == d)
      !keep && fsys.exists(new org.apache.hadoop.fs.Path(s"$t/$d"))
    }
    assert(deadDirsRemaining.isEmpty, s"dead staging dirs survived vacuum: $deadDirsRemaining")
    // readVersion(2) still green (its dir-granular data dir holds live files)
    assert(SnapshotStore.readVersion(spark, t, 2L).count() === 5)
  }

  test("compactCommit works on a FILE-GRANULAR head and materializes its DVs away") {
    val root = java.nio.file.Files.createTempDirectory("graft-appcompact").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(60).toDF("id").repartition(4), t)          // v0
    SnapshotStore.appendCommit(spark.range(60, 100).toDF("id").coalesce(2), t)  // v1 file-granular
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") % 4 === 0)        // v2 DVs
    // the DV-refusal remediation must actually run against this head
    val (before, after, bytes, v) = graft.ops.Bucketing.compactCommit(spark, t, 1L << 30)
    assert(v === 3L && after <= before && bytes > 0)
    val m3 = SnapshotStore.manifest(spark, t, 3L)
    assert(m3.deletes.isEmpty, "compaction must materialize DVs away")
    assert(SnapshotStore.read(spark, t).count() === 100 - 25)
    // and the table accepts appends again
    SnapshotStore.appendCommit(spark.range(100, 105).toDF("id").coalesce(1), t)
    assert(SnapshotStore.read(spark, t).count() === 80)
  }

  test("appendCommit: union-compatible schema drift EVOLVES; type conflicts refused") {
    val root = java.nio.file.Files.createTempDirectory("graft-appschema").toString
    val t = s"$root/t"
    SnapshotStore.commit(spark.range(10).selectExpr("id", "id * 2 AS v"), t)
    // a shared-column TYPE conflict has no union schema — refused
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.appendCommit(
        spark.range(5).selectExpr("id", "CAST(id AS STRING) AS v"), t)
    }
    assert(e.getMessage.contains("schema mismatch") && e.getMessage.contains("rewrite"),
      e.getMessage)
    // column ORDER is not schema drift (no evolution flag set)
    SnapshotStore.appendCommit(
      spark.range(10, 12).selectExpr("id * 2 AS v", "id").select("v", "id"), t)
    assert(!SnapshotStore.manifest(spark, t,
      SnapshotStore.currentVersion(spark, t).get).mixedSchema)
    assert(SnapshotStore.read(spark, t).count() === 12)

    // ADDING a column is schema evolution: the manifest records
    // schema=mixed and reads resolve the UNION schema from then on
    SnapshotStore.appendCommit(
      spark.range(12, 15).selectExpr("id", "id * 2 AS v", "'tag' AS note"), t)
    val head = SnapshotStore.read(spark, t)
    assert(head.schema.fieldNames.toSet === Set("id", "v", "note"))
    assert(head.count() === 15)
    assert(head.filter(col("note").isNull).count() === 12, "old rows read null for the new column")
    assert(head.filter(col("note") === "tag").count() === 3)
    // OMITTING a column is also union-compatible (reads null)
    SnapshotStore.appendCommit(spark.range(15, 16).selectExpr("id", "id * 2 AS v"), t)
    assert(SnapshotStore.read(spark, t).filter(col("id") === 15).select("note")
      .head().isNullAt(0))
    // time travel still serves the PRE-evolution schema
    assert(SnapshotStore.readVersion(spark, t, 0L).schema.fieldNames.toSet === Set("id", "v"))
    // DVs compose with the evolved table after compaction re-enables them
    val ops = SnapshotStore.history(spark, t).orderBy("version")
      .collect().map(_.getString(2)).toSeq
    assert(ops === Seq("create", "append", "append", "append"))
  }

  test("an empty manifest (no data dir, no file actions) is refused at publish") {
    val root = java.nio.file.Files.createTempDirectory("graft-emptymanifest").toString
    val t = s"$root/t"
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.tryPublishManifest(spark, t, 0L, SnapshotStore.Manifest("", Nil, Nil))
    }
    assert(e.getMessage.contains("EMPTY manifest"), e.getMessage)
  }

  test("vacuum deletes an aged-out EXTERNAL data dir once unreferenced") {
    val root = java.nio.file.Files.createTempDirectory("graft-extvac").toString
    val t = s"$root/t"
    val external = s"$root/external_stage"
    spark.range(20).toDF("id").write.mode("overwrite").parquet(external)
    assert(SnapshotStore.tryPublishManifest(spark, t, 0L,
      SnapshotStore.Manifest(external, Nil, Nil)))           // v0 points OUTSIDE the root
    SnapshotStore.commit(spark.range(5).toDF("id"), t)       // v1
    SnapshotStore.commit(spark.range(6).toDF("id"), t)       // v2
    val fsys = new org.apache.hadoop.fs.Path(external)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.exists(new org.apache.hadoop.fs.Path(external)))
    assert(SnapshotStore.vacuum(spark, t, keep = 2) === Seq(0L))
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(external)),
      "aged-out external data dir must be collected")
    assert(SnapshotStore.read(spark, t).count() === 6)
  }

  test("compactSmallFilesCommit rewrites ONLY sub-threshold files; big files re-link untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft-smallcompact").toString
    val t = s"$root/t"
    // one BIG commit, then many tiny appends (the streaming-sink debris shape)
    SnapshotStore.commit(spark.range(200000).selectExpr("id", "id * 3 AS v").coalesce(1), t)
    (0 until 5).foreach { i =>
      SnapshotStore.appendCommit(
        spark.range(200000L + i * 10, 200000L + i * 10 + 10)
          .selectExpr("id", "id * 3 AS v").coalesce(1), t)
    }
    val before = SnapshotStore.manifest(spark, t,
      SnapshotStore.currentVersion(spark, t).get)
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = SnapshotStore.dataFiles(spark, before).map(f =>
      f -> fsys.getFileStatus(new org.apache.hadoop.fs.Path(f)))
    val bigFiles = sizes.filter(_._2.getLen >= 64 * 1024).map(_._1)
    assert(bigFiles.nonEmpty && sizes.size - bigFiles.size >= 5, "fixture needs a big/small mix")
    val bigMtimes = bigFiles.map(f =>
      f -> fsys.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime).toMap

    val (rewritten, linked, merged, v) =
      graft.ops.Bucketing.compactSmallFilesCommit(spark, t, smallBytes = 64 * 1024,
        targetBytes = 1L << 30)
    assert(rewritten >= 5 && linked === bigFiles.size && merged === 1)
    val after = SnapshotStore.manifest(spark, t, v)
    assert(after.op === "compact-small")
    assert(bigFiles.forall(after.files.contains), "big files must re-link")
    bigFiles.foreach { f =>
      assert(fsys.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime
        === bigMtimes(f), s"compaction touched a big file: $f")
    }
    assert(after.files.size === bigFiles.size + 1, "small tail merged to one file")
    // content identical, sum-exact
    assert(SnapshotStore.read(spark, t).count() === 200050)
    assert(SnapshotStore.read(spark, t).agg(sum(col("v"))).head().getLong(0) ===
      SnapshotStore.readVersion(spark, t, v - 1).agg(sum(col("v"))).head().getLong(0))
    // appends keep working on the compacted head; a no-op rerun commits nothing
    val (r2, _, _, v2) = graft.ops.Bucketing.compactSmallFilesCommit(spark, t,
      smallBytes = 64 * 1024, targetBytes = 1L << 30)
    assert(r2 === 0 && v2 === v, "rerun with nothing to merge must not commit")
  }
}
