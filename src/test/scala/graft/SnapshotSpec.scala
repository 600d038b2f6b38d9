package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.core.Snapshots
import graft.operators.Similarity

/** Contracts of the manifest-commit snapshot layer (core.Snapshots) and
  * its composition with the IVF index lifecycle: pinned readers are
  * isolated from in-flight publishes, vacuum bounds history, and the
  * compaction lock closes the append/compact race (ADVICE r10 #2).
  */
class SnapshotSpec extends SparkTestBase {
  import spark.implicits._

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/tbl"

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
    df.select(col("part"), col("id"), col("v")).as[(String, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  private def fixture(parts: (String, Int)*): org.apache.spark.sql.DataFrame =
    parts.flatMap { case (p, mult) =>
      (0 until 10).map(i => (p, i.toLong, i.toLong * mult))
    }.toDF("part", "id", "v")

  test("pinned reader stays byte-stable while the next version publishes") {
    val root = freshRoot("snap_race")
    val v1 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1, "b" -> 1).write.partitionBy("part").parquet(stage))
    val pinned = rowsOf(Snapshots.readSnapshot(spark, root, Some(v1)))
    val v1Files = Snapshots.manifestFiles(spark, root, v1)

    // version 2 replaces ONLY partition b with rewritten rows
    val v2 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("b" -> 100).write.partitionBy("part").parquet(stage))
    assert(v2 == v1 + 1)

    // the pinned version re-reads identically AND its files still exist
    assert(rowsOf(Snapshots.readSnapshot(spark, root, Some(v1))) == pinned,
      "a reader holding version 1 must see pre-publish rows after v2 lands")
    assert(v1Files.forall(f => fs(root).exists(new Path(s"$root/$f"))),
      "publish must never delete a pinned version's files")

    // latest = replaced b + carried-over a
    val latest = rowsOf(Snapshots.readSnapshot(spark, root))
    assert(latest.filter(_._1 == "a") == pinned.filter(_._1 == "a"))
    assert(latest.filter(_._1 == "b") == fixture("b" -> 100)
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq)
  }

  test("legacy plain table bootstraps: first publish snapshots existing files") {
    val root = freshRoot("snap_boot")
    // a pre-snapshot table written the plain way
    fixture("a" -> 1, "b" -> 1).write.partitionBy("part").parquet(root)
    val v1 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("b" -> 7).write.partitionBy("part").parquet(stage))
    val got = rowsOf(Snapshots.readSnapshot(spark, root, Some(v1)))
    val want = rowsOf(fixture("a" -> 1, "b" -> 7))
    assert(got == want, "bootstrap manifest must carry legacy files of untouched partitions")
  }

  test("vacuum keeps the latest versions and reclaims superseded files") {
    val root = freshRoot("snap_vac")
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1, "b" -> 1).write.partitionBy("part").parquet(stage))
    val v2 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("b" -> 100).write.partitionBy("part").parquet(stage))
    val before = rowsOf(Snapshots.readSnapshot(spark, root, Some(v2)))
    val removed = Snapshots.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(removed.nonEmpty, "v1's superseded b-files must be reclaimed")
    assert(removed.forall(_.startsWith("part=b/")),
      s"only the replaced partition's old files are garbage, got $removed")
    // latest version is untouched, and the plain root read now equals it
    // (no superseded duplicates left on disk)
    assert(rowsOf(Snapshots.readSnapshot(spark, root)) == before)
    assert(rowsOf(spark.read.parquet(root)) == before,
      "after vacuum(keep=1) a plain reader sees exactly the current version")
    intercept[IllegalArgumentException](Snapshots.manifestFiles(spark, root, v2 - 1))
  }

  test("vacuum: version-number gaps (crashed claims) don't shrink the kept set") {
    val root = freshRoot("snap_gap")
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    val v2 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 2).write.partitionBy("part").parquet(stage))
    // a writer claims v3 and dies before its manifest rename — the exact
    // crash window the protocol documents as safe. While the claim is
    // YOUNG (in-flight by the stale threshold), a successor must NOT
    // carry over past it — it fails loudly after the wait budget instead
    // of making the claimant's eventual commit invisible at head
    fs(root).createNewFile(new Path(f"$root/_manifests/v${v2 + 1}%012d.claim"))
    withConf("graft.snapshots.claimWaitMs" -> "200") {
      intercept[java.util.ConcurrentModificationException](
        Snapshots.publishPartitions(spark, root)(stage =>
          fixture("a" -> 3).write.partitionBy("part").parquet(stage)))
      // once the claim is STALE (owner declared dead), publishes resume
      // and skip over the dead number
      withConf("graft.snapshots.staleClaimMs" -> "0") {
        val v4 = Snapshots.publishPartitions(spark, root)(stage =>
          fixture("a" -> 3).write.partitionBy("part").parquet(stage))
        assert(v4 == v2 + 2, "the stale claim must be skipped")
      }
    }
    val v4 = v2 + 2
    val pinned = rowsOf(Snapshots.readSnapshot(spark, root, Some(v2)))
    Snapshots.vacuum(spark, root, keepVersions = 2, graceMs = 0L)
    // keep = the 2 newest COMMITTED versions {v2, v4}; the numeric-window
    // form would have kept only {v4} and deleted v2's files
    assert(rowsOf(Snapshots.readSnapshot(spark, root, Some(v4))).nonEmpty)
    assert(rowsOf(Snapshots.readSnapshot(spark, root, Some(v2))) == pinned,
      "the previous committed version must survive vacuum despite the gap")
    intercept[IllegalArgumentException](Snapshots.manifestFiles(spark, root, v2 - 1))
  }

  test("contiguous chain: a stalled claimant is never silently shadowed") {
    val root = freshRoot("snap_shadow")
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    // writer A claims v2 and stalls past the stale threshold; writer B
    // then publishes (carrying over past the stale claim, committing v3)
    fs(root).createNewFile(new Path(f"$root/_manifests/v${2L}%012d.claim"))
    withConf("graft.snapshots.staleClaimMs" -> "0") {
      val vb = Snapshots.publishPartitions(spark, root)(stage =>
        fixture("b" -> 2).write.partitionBy("part").parquet(stage))
      assert(vb == 3L)
      // A wakes up and commits its manifest under the stale claim — the
      // head (v3) does not descend from v2, so A must FAIL LOUDLY rather
      // than return success for a write that is invisible at head.
      // Reproduce A's commit through the layer: a fixed-version claim of
      // v2 fails (claim exists)…
      intercept[java.util.ConcurrentModificationException](
        Snapshots.publishPartitions(spark, root, expectedPrev = Some(1L))(stage =>
          fixture("c" -> 3).write.partitionBy("part").parquet(stage)))
      // …and a hand-rolled manifest rename in A's position is exactly
      // what the post-commit ancestry walk catches: simulate by checking
      // the chain headers the walk uses — v3 must declare prev=1,
      // skipping 2, which is the precise evidence the walk turns into an
      // error for the stalled writer
      val lines = scala.io.Source.fromInputStream(
        fs(root).open(new Path(f"$root/_manifests/v${3L}%012d.manifest")), "UTF-8")
        .getLines().toList
      assert(lines.exists(_.startsWith("#prev=1")),
        s"v3 must carry over from v1 past the stale claim, got: ${lines.filter(_.startsWith("#"))}")
    }
  }

  test("a refused commit releases its claim: RMW verbs retry instead of wedging") {
    val root = freshRoot("snap_unwedge")
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    // a merge that deletes EVERYTHING refuses inside the commit body
    // (EMPTY file set) — its fixed-version claim must be released, or
    // every later read-modify-write verb would throw
    // ConcurrentModificationException until vacuum's grace expired
    import graft.core.SnapshotOps
    intercept[IllegalArgumentException] {
      SnapshotOps.merge(spark, root,
        (0 until 10).map(i => ("a", i.toLong, 0L, "delete")).toDF("part", "id", "v", "op"),
        Seq("id"), "part")
    }
    assert(!fs(root).exists(new Path(f"$root/_manifests/v${2L}%012d.claim")),
      "the refused merge must release its claim")
    // the retry path works immediately — no vacuum needed
    val v2 = SnapshotOps.merge(spark, root,
      Seq(("a", 0L, 777L, "upsert")).toDF("part", "id", "v", "op"), Seq("id"), "part")
    assert(v2 == 2L)
    assert(rowsOf(Snapshots.readSnapshot(spark, root)).contains(("a", 0L, 777L)))
  }

  test("vacuum: reclaims crashed-publish residue, respects the age grace") {
    val root = freshRoot("snap_residue")
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    // crashed-writer residue: an abandoned stage tree + a tmp manifest
    fs(root).mkdirs(new Path(s"$root/_publish_stage/deadbeef/part=a"))
    fs(root).createNewFile(new Path(s"$root/_publish_stage/deadbeef/part=a/x.parquet"))
    fs(root).createNewFile(new Path(s"$root/_manifests/.tmp-dead"))
    // a generous grace protects everything (files are seconds old)
    Snapshots.vacuum(spark, root, keepVersions = 1, graceMs = 60L * 60 * 1000)
    assert(fs(root).exists(new Path(s"$root/_publish_stage/deadbeef")),
      "files younger than the grace must never be reclaimed")
    // a stale claim with no manifest (a crashed or refused writer — e.g.
    // a rollback past the retention horizon) must also be reclaimed, or
    // every refused maintenance op leaks a file forever
    fs(root).createNewFile(new Path(f"$root/_manifests/v${99L}%012d.claim"))
    // grace 0 (single-writer) reclaims the residue
    Snapshots.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(!fs(root).exists(new Path(s"$root/_publish_stage/deadbeef")))
    assert(!fs(root).exists(new Path(s"$root/_manifests/.tmp-dead")))
    assert(!fs(root).exists(new Path(f"$root/_manifests/v${99L}%012d.claim")),
      "a claim with no committed manifest is crash residue and must be reclaimed")
    // the LATEST version's own claim is not residue — it stays
    assert(Snapshots.latestVersion(spark, root).contains(1L))
  }

  test("manifest meta: reserved keys are rejected at publish, never silently dropped") {
    val root = freshRoot("snap_reserved")
    for (k <- Seq("stat", "committed_at")) {
      val err = intercept[IllegalArgumentException] {
        Snapshots.publishPartitions(spark, root, meta = Map(k -> "x"))(stage =>
          fixture("a" -> 1).write.partitionBy("part").parquet(stage))
      }
      assert(err.getMessage.contains("reserved"), err.getMessage)
    }
    // and the infrastructure headers never surface as meta keys
    Snapshots.publishPartitions(spark, root, statsCols = Seq("v"))(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    val v = Snapshots.latestVersion(spark, root).get
    assert(Snapshots.manifestMeta(spark, root, v).isEmpty)
    assert(Snapshots.fileStats(spark, root, v).nonEmpty)
  }

  test("publishAddedFiles: a replacing prefix drops a crashed attempt's stale entries") {
    val root = freshRoot("snap_addrep")
    val v1 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    // first delivery of batch 7 registered two files; the replay swept
    // them and restaged as ONE file — the manifest must not keep
    // pinning the deleted second file
    val d = new Path(s"$root/part=a")
    Seq("ingest-b7-0.snappy.parquet", "ingest-b7-1.snappy.parquet")
      .foreach(n => fs(root).createNewFile(new Path(d, n)))
    Snapshots.publishAddedFiles(spark, root,
      Seq("part=a/ingest-b7-0.snappy.parquet", "part=a/ingest-b7-1.snappy.parquet"),
      replacingFilePrefix = Some("ingest-b7-"))
    fs(root).delete(new Path(d, "ingest-b7-1.snappy.parquet"), false)
    val v3 = Snapshots.publishAddedFiles(spark, root,
      Seq("part=a/ingest-b7-0.snappy.parquet"),
      replacingFilePrefix = Some("ingest-b7-"))
    val pinned = Snapshots.manifestFiles(spark, root, v3)
    assert(pinned.contains("part=a/ingest-b7-0.snappy.parquet"))
    assert(!pinned.contains("part=a/ingest-b7-1.snappy.parquet"),
      "the replay's manifest must drop the crashed attempt's extra file")
    assert(pinned.count(_.startsWith("part=a/pub-")) ==
      Snapshots.manifestFiles(spark, root, v1).size)
  }

  test("readSnapshotRange: manifest stats skip non-matching files, rows exact") {
    val root = freshRoot("snap_skip")
    // 4 range-clustered files per partition: each covers ~1/4 of v's span
    val wide = (0 until 400).map(i => ("a", i.toLong, i.toLong)).toDF("part", "id", "v")
    Snapshots.publishPartitions(spark, root, statsCols = Seq("v"))(stage =>
      wide.repartitionByRange(4, col("v")).write.partitionBy("part").parquet(stage))
    val all = Snapshots.readSnapshot(spark, root)
    val ranged = Snapshots.readSnapshotRange(spark, root, "v", 10.0, 60.0)
    assert(ranged.inputFiles.length < all.inputFiles.length,
      s"stats must prune files: ${ranged.inputFiles.length} of ${all.inputFiles.length}")
    val got = ranged.select("id").as[Long].collect().sorted.toSeq
    assert(got == (10L to 60L).toSeq, "skipping must never change the row set")
    // a range beyond every file's span plans nothing and returns nothing
    assert(Snapshots.readSnapshotRange(spark, root, "v", 1e9, 2e9).isEmpty)
  }

  test("snapshotChanges: churn-proportional IO, net multiset diff") {
    val root = freshRoot("snap_cdc")
    val v1 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1, "b" -> 1, "c" -> 1).write.partitionBy("part").parquet(stage))
    // v2 rewrites ONLY partition b: ids 0..9 with v doubled, id 0 (v=0)
    // unchanged by the doubling — a net no-op row
    val v2 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("b" -> 2).write.partitionBy("part").parquet(stage))
    val ch = Snapshots.snapshotChanges(spark, root, v1, v2)
    // IO pin: only the replaced partition's files are ever opened —
    // the untouched a/c files are identical manifest entries
    assert(ch.inputFiles.nonEmpty && ch.inputFiles.forall(_.contains("part=b/")),
      s"change capture must read only the churn, got ${ch.inputFiles.mkString(", ")}")
    val got = ch.select(col("change"), col("part"), col("id"), col("v"))
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    // id 0 has v = 0 on both sides (0*2 = 0): no change emitted for it
    val added = (1 until 10).map(i => ("added", "b", i.toLong, i.toLong * 2))
    val removed = (1 until 10).map(i => ("removed", "b", i.toLong, i.toLong))
    assert(got == (added ++ removed),
      "net multiset diff must emit exactly the changed rows")
    // identical versions diff to nothing (and read nothing)
    assert(Snapshots.snapshotChanges(spark, root, v2, v2).isEmpty)
  }

  test("compaction lock: appends refuse while held; compact releases it") {
    val e = core.Tables.embeddings(spark, sfDir)
    val root = freshRoot("snap_lock") + "/idx"
    val cents = Similarity.buildIvfIndex(e, "vec_id", "embedding", root, nCells = 4)
    val batch = e.limit(5).withColumn("vec_id", col("vec_id") + 10000)

    // simulate a compactor holding the lock
    fs(root).createNewFile(new Path(s"$root/_compaction_lock"))
    val err = intercept[IllegalArgumentException](
      Similarity.appendToIvfIndexIdempotent(batch, "vec_id", "embedding", root, cents, 1L))
    assert(err.getMessage.contains("_compaction_lock"))
    Similarity.clearCompactionLock(spark, root)

    // append now lands, and a real compaction acquires + releases cleanly
    Similarity.appendToIvfIndexIdempotent(batch, "vec_id", "embedding", root, cents, 1L)
    Similarity.compactIvfCells(spark, root, Seq(0, 1, 2, 3))
    assert(!fs(root).exists(new Path(s"$root/_compaction_lock")),
      "compactIvfCells must release the lock")
    // and a held lock blocks a second compactor
    fs(root).createNewFile(new Path(s"$root/_compaction_lock"))
    intercept[IllegalArgumentException](Similarity.compactIvfCells(spark, root, Seq(0)))
    Similarity.clearCompactionLock(spark, root)
  }

  test("snapshot mode: probes dedupe pre-vacuum, appends commit additively, plain compact refuses") {
    val e = core.Tables.embeddings(spark, sfDir)
    val root = freshRoot("snap_mode") + "/idx"
    val cents = Similarity.buildIvfIndex(e, "vec_id", "embedding", root, nCells = 4)
    val b1 = e.limit(4).withColumn("vec_id", col("vec_id") + 1000)
    Similarity.appendToIvfIndexIdempotent(b1, "vec_id", "embedding", root, cents, 1L)
    val expected1 = (spark.read.parquet(root).select("vec_id").as[Long].collect()).sorted.toSeq

    // compaction publishes v1 — the superseded generation stays on disk,
    // but the SNAPSHOT-AWARE probe must see exactly-once rows pre-vacuum
    Similarity.compactIvfCellsSnapshot(spark, root, Seq(0, 1, 2, 3))
    val qvec = e.limit(1).select("embedding").collect()(0)
      .getSeq[Number](0).map(_.doubleValue()).toSeq
    def probeAll() = Similarity.probeIvfIndex(spark, root, "vec_id", "embedding",
        qvec, queryId = -1L, k = 100000, cents, nProbe = 4)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(probeAll() == expected1,
      "a probe on a snapshot-managed index must not double-count the superseded generation")

    // an idempotent append on the snapshot-managed index commits an
    // additive manifest version — snapshot readers see the batch at once
    val vBefore = Snapshots.latestVersion(spark, root).get
    val b2 = e.limit(3).withColumn("vec_id", col("vec_id") + 2000)
    Similarity.appendToIvfIndexIdempotent(b2, "vec_id", "embedding", root, cents, 2L)
    assert(Snapshots.latestVersion(spark, root).get == vBefore + 1)
    val expected2 = (expected1 ++ b2.select("vec_id").as[Long].collect()).sorted
    assert(probeAll() == expected2.toSeq,
      "snapshot readers must see appended rows through the additive manifest")
    // replaying the same batch must not add a duplicate version or rows
    Similarity.appendToIvfIndexIdempotent(b2, "vec_id", "embedding", root, cents, 2L)
    assert(Snapshots.latestVersion(spark, root).get == vBefore + 1)
    assert(probeAll() == expected2.toSeq)

    // the in-place dynamic overwrite would delete manifest-referenced
    // files under pinned readers — it must refuse on a managed index
    val err = intercept[IllegalArgumentException](
      Similarity.compactIvfCells(spark, root, Seq(0)))
    assert(err.getMessage.contains("compactIvfCellsSnapshot"))
  }

  test("snapshot compaction: rows preserved, files drop, pinned reader unharmed") {
    val e = core.Tables.embeddings(spark, sfDir)
    val root = freshRoot("snap_comp") + "/idx"
    val cents = Similarity.buildIvfIndex(e, "vec_id", "embedding", root, nCells = 4)
    for (b <- 1 to 3)
      Similarity.appendToIvfIndexIdempotent(
        e.limit(4).withColumn("vec_id", col("vec_id") + b * 1000),
        "vec_id", "embedding", root, cents, b.toLong)
    val before = spark.read.parquet(root)
      .select("vec_id").as[Long].collect().sorted.toSeq
    def cellFiles(c: Int) = fs(root).listStatus(new Path(s"$root/cell=$c"))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val filesBefore = (0 until 4).map(cellFiles).sum

    val v = Similarity.compactIvfCellsSnapshot(spark, root, Seq(0, 1, 2, 3))
    val snap = Snapshots.readSnapshot(spark, root, Some(v))
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(snap == before, "snapshot compaction must preserve every row exactly once")

    // the superseded generation still exists for plain/pinned readers
    // until vacuum; vacuum(keep=1) then restores plain-read equivalence
    // with fewer files
    Snapshots.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    val plain = spark.read.parquet(root)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(plain == before)
    val filesAfter = (0 until 4).map(cellFiles).sum
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
  }

  test("rollbackTo: forward-commit undo — latest equals the target, bad version stays readable") {
    val root = freshRoot("snap_rb")
    val v1 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1, "b" -> 2).write.partitionBy("part").parquet(stage))
    val v2 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 100).write.partitionBy("part").parquet(stage)) // the bad publish
    val v3 = Snapshots.rollbackTo(spark, root, v1)
    assert(v3 > v2, "rollback must commit a NEW version, not rewrite history")
    assert(Snapshots.latestVersion(spark, root).contains(v3))
    // latest read == v1's content, bit for bit
    assert(rowsOf(Snapshots.readSnapshot(spark, root)) ==
      rowsOf(Snapshots.readSnapshot(spark, root, Some(v1))))
    // the bad version remains pinned-readable for forensics
    val bad = rowsOf(Snapshots.readSnapshot(spark, root, Some(v2)))
    assert(bad.filter(_._1 == "a").forall(r => r._3 == r._2 * 100))
    // provenance header
    assert(Snapshots.manifestMeta(spark, root, v3).get("rollback_of").contains(v1.toString))
    // a rollback carries over recorded file stats — none here, but the
    // manifest must stay parseable with an empty stat set
    assert(Snapshots.fileStats(spark, root, v3).isEmpty)
  }

  test("rollbackTo: file stats round-trip exactly; '#stat=' never pollutes manifest meta") {
    val root = freshRoot("snap_rb_stats")
    val v1 = Snapshots.publishPartitions(spark, root,
      meta = Map("source" -> "unit"), statsCols = Seq("v")) { stage =>
      fixture("a" -> 1, "b" -> 2).write.partitionBy("part").parquet(stage)
    }
    // the stats block must not leak into the meta map as a 'stat' key
    assert(Snapshots.manifestMeta(spark, root, v1) == Map("source" -> "unit"))
    Snapshots.publishPartitions(spark, root, statsCols = Seq("v")) { stage =>
      fixture("a" -> 7).write.partitionBy("part").parquet(stage)
    }
    val v3 = Snapshots.rollbackTo(spark, root, v1)
    // stats survive the rollback EXACTLY (no duplication, no loss) and
    // the provenance header joins the carried-over meta
    assert(Snapshots.fileStats(spark, root, v3).sorted ==
      Snapshots.fileStats(spark, root, v1).sorted)
    assert(Snapshots.manifestMeta(spark, root, v3) ==
      Map("source" -> "unit", "rollback_of" -> v1.toString))
    // and range reads over the rollback version still skip on the stats
    assert(rowsOf(Snapshots.readSnapshotRange(spark, root, "v", 0, 1000, Some(v3))) ==
      rowsOf(Snapshots.readSnapshot(spark, root, Some(v1))))
  }

  test("history + versionAsOf: the version log and time travel by commit instant") {
    val root = freshRoot("snap_hist")
    val v1 = Snapshots.publishPartitions(spark, root, meta = Map("job" -> "j1"))(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    val t1 = System.currentTimeMillis()
    Thread.sleep(20) // distinct commit instants
    val v2 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("b" -> 2).write.partitionBy("part").parquet(stage))
    val h = Snapshots.history(spark, root)
    assert(h.map(_._1) == Seq(v1, v2), h.toString)
    assert(h.head._4 == Map("job" -> "j1") && h.last._4.isEmpty)
    assert(h.head._3 <= h.last._3, "v2 carries v1's partition plus its own")
    assert(h.head._2 <= h.last._2, "commit instants must be monotone")
    // time travel: a timestamp between the commits resolves to v1; one
    // after both resolves to v2; one before everything resolves to none
    assert(Snapshots.versionAsOf(spark, root, t1).contains(v1))
    assert(Snapshots.versionAsOf(spark, root, System.currentTimeMillis()).contains(v2))
    assert(Snapshots.versionAsOf(spark, root, 0L).isEmpty)
    assert(rowsOf(Snapshots.readSnapshot(spark, root,
      Snapshots.versionAsOf(spark, root, t1))) ==
      rowsOf(Snapshots.readSnapshot(spark, root, Some(v1))))
  }

  test("readSnapshot: merged-schema reads — explicit param or inherited session conf") {
    val root = freshRoot("snap_evolve")
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1, "b" -> 2).write.partitionBy("part").parquet(stage))
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1).withColumn("extra", col("v") * 10)
        .write.partitionBy("part").parquet(stage))
    // explicit param: union schema, old files null-fill the new column
    val merged = Snapshots.readSnapshot(spark, root, mergeSchema = true)
    assert(merged.columns.contains("extra"))
    assert(merged.filter(col("part") === "b" && col("extra").isNotNull).count() == 0)
    assert(merged.filter(col("part") === "a" && col("extra") =!= col("v") * 10).count() == 0)
    // the default must INHERIT a session-level mergeSchema=true, not
    // override it with an explicit false (the pre-existing deployment
    // contract of plain parquet readers)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(Snapshots.readSnapshot(spark, root).columns.contains("extra"))
    }
  }

  test("rollbackTo: refuses loudly past the vacuum retention horizon") {
    val root = freshRoot("snap_rb_gone")
    val v1 = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    // a full replacement: v2 shares no files with v1
    Snapshots.publishFull(spark, root)(stage =>
      fixture("a" -> 3, "b" -> 4).write.partitionBy("part").parquet(stage))
    Snapshots.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    // vacuum dropped v1's manifest with its files — the lookup itself
    // refuses (retention horizon = the rollback window, by construction)
    val err = intercept[IllegalArgumentException](
      Snapshots.rollbackTo(spark, root, v1))
    assert(err.getMessage.contains("no manifest"), err.getMessage)

    // the defensive second layer: a manifest that survived but whose
    // data file was reaped externally must also refuse, not commit a
    // version pinning ghosts
    val root2 = freshRoot("snap_rb_ghost")
    val w1 = Snapshots.publishPartitions(spark, root2)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    val f = Snapshots.manifestFiles(spark, root2, w1).head
    fs(root2).delete(new Path(s"$root2/$f"), false)
    val err2 = intercept[IllegalArgumentException](
      Snapshots.rollbackTo(spark, root2, w1))
    assert(err2.getMessage.contains("vacuumed"), err2.getMessage)
  }

  test("publishRowAppend: programmatic append on partitioned and unpartitioned tables") {
    import spark.implicits._
    // partitioned: rows add next to existing rows, partition dirs shared
    val root = freshRoot("snap_rowappend")
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1, "b" -> 2).write.partitionBy("part").parquet(stage))
    val v2 = Snapshots.publishRowAppend(spark, root)(stage =>
      fixture("a" -> 10).write.partitionBy("part").parquet(stage))
    val got = Snapshots.readSnapshot(spark, root, Some(v2))
    assert(got.count() ==
      fixture("a" -> 1, "b" -> 2).count() + fixture("a" -> 10).count())
    // the appended files live IN the existing partition dirs, additively
    val files = Snapshots.manifestFiles(spark, root, v2)
    assert(files.count(_.startsWith("part=a/")) > files.count(_.startsWith("part=b/")))
    // (the layer refuses unpartitioned staging at publish time by design,
    // so the append's flat-layout branch is defensive-only — no live path)
  }

  test("tablePartitionColumns reads the layout off the manifest, nested and flat") {
    import spark.implicits._
    val root = freshRoot("snap_tpc")
    (for (a <- Seq("x", "y"); b <- 0 to 1; i <- 1 to 2) yield (a, b, i.toLong))
      .toDF("a", "b", "id")
      .write.format("graft").mode("overwrite").partitionBy("a", "b").save(root)
    assert(Snapshots.tablePartitionColumns(spark, root) == Seq("a", "b"))
    assert(Snapshots.tablePartitionColumns(spark, freshRoot("snap_tpc_none")).isEmpty)
  }

  test("constraint-gate path keying strips scheme AND authority (ADVICE r13)") {
    // the gate joins _metadata.file_path (a qualified URI) against
    // Path.toUri.getPath (no scheme, no authority) — both sides must
    // normalize to the same absolute path on EVERY filesystem shape
    import spark.implicits._
    val got = Seq(
      "hdfs://nn:8020/warehouse/t/part=a/f.parquet", // scheme + host:port authority
      "s3a://bucket/t/part=a/f.parquet",             // scheme + bucket authority
      "file:///tmp/t/part=a/f.parquet",              // scheme + EMPTY authority
      "file:/tmp/t/part=a/f.parquet",                // scheme, no authority
      "/tmp/t/part=a/f.parquet")                     // already bare
      .toDF("p")
      .select(Snapshots.schemeAuthorityStripped(org.apache.spark.sql.functions.col("p")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "/warehouse/t/part=a/f.parquet",
      "/t/part=a/f.parquet",
      "/tmp/t/part=a/f.parquet",
      "/tmp/t/part=a/f.parquet",
      "/tmp/t/part=a/f.parquet"), got)
  }

  test("constrained publish succeeds end-to-end (path keying round-trips)") {
    val root = freshRoot("snap_consroundtrip")
    Snapshots.publishPartitions(spark, root)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    Snapshots.setConstraints(spark, root, Seq("v_nonneg" -> "v >= 0"))
    // a clean batch must publish (a keying miss would refuse EVERY
    // constrained publish — the ADVICE r13 failure mode on authority FSs)
    val v = Snapshots.publishPartitions(spark, root)(stage =>
      fixture("b" -> 2).write.partitionBy("part").parquet(stage))
    assert(Snapshots.readSnapshot(spark, root, Some(v)).count() > 0)
  }

  test("cloneTable refuses a source root named like a partition dir (ADVICE r13)") {
    // publishImpl's r13 guard refuses NEW roots named <col>=<value>; a
    // PRE-EXISTING table can still sit under one (manifest lines are
    // root-relative, so a directory rename is transparent) — and a clone
    // FROM it would bake the root name into absolute partition suffixes
    val legacy = freshRoot("snap_cloneguard_src")
    Snapshots.publishPartitions(spark, legacy)(stage =>
      fixture("a" -> 1).write.partitionBy("part").parquet(stage))
    val renamed = new Path(new Path(legacy).getParent, "tbl=1")
    fs(legacy).delete(renamed, true)
    assert(fs(legacy).rename(new Path(legacy), renamed))
    val err = intercept[IllegalArgumentException](
      Snapshots.cloneTable(spark, renamed.toString, freshRoot("snap_clonedst")))
    assert(err.getMessage.contains("must not itself be named"), err.getMessage)
    fs(legacy).delete(renamed, true)
  }
}
