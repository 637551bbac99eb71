package graft

import java.nio.file.Files

import graft.vt.{CommitLog, Manifest, VersionedTable}

/** r20 commit-metadata manifests: per-file metadata lives in immutable
  * shared `.manifest` files, commit records are O(changed files) for
  * appends, `open()` cost stays bounded via reuse + compaction, and the
  * whole versioning surface (time travel, COW, ANALYZE, vacuum, legacy
  * conversion) keeps working through the resolution layer. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def rawJson(vt: VersionedTable, id: String): String =
    Files.readString(vt.root.resolve("commits").resolve(id + ".json"))

  test("append commit records are O(new files), not O(table)") {
    val vt = VersionedTable.create(Tables.scratch("mf_append"))
    // v0: a 8-file base with stats on both a numeric and a string column
    val base = (1 to 400).map(i => (i.toLong, s"name$i")).toDF("k", "v")
      .repartition(8)
    vt.write(base, "main", "v0", statsCols = Seq("k", "v"))
    val sizes = (1 to 10).map { i =>
      val c = vt.write(Seq((1000L + i, s"x$i")).toDF("k", "v").coalesce(1),
        "main", s"a$i", mode = "append", statsCols = Seq("k", "v"))
      rawJson(vt, c.id).length
    }
    val head = vt.head("main").get
    // the record stores manifest references, never the inline file list
    assert(head.manifests.nonEmpty)
    assert(!rawJson(vt, head.id).contains("\"files\""),
      "manifest-backed commit must not inline its file list")
    assert(!rawJson(vt, head.id).contains("\"rowCounts\""),
      "manifest-backed commit must not inline per-file stats maps")
    // O(changed files): the 10th append's record is no bigger than ~the
    // 1st's plus one manifest reference (~100 bytes), though the table has
    // 9 more files by then
    assert(sizes.last <= sizes.head + 9 * 120,
      s"append record grew with table size: ${sizes.mkString(", ")}")
    // an append reuses the parent's manifests by reference + ONE new one
    val parent = vt.loadCommit(head.parent.get)
    assert(head.manifests.init === parent.manifests,
      "append must reuse the parent's manifests by reference")
    assert((head.manifests.toSet -- parent.manifests.toSet).size === 1)
    // resolution round-trips everything: files, counts, stats
    val reloaded = vt.loadCommit(head.id)
    assert(reloaded.files.sorted === head.files.sorted)
    assert(reloaded.rowCounts === head.rowCounts && reloaded.rowCounts.size === 18)
    assert(reloaded.stats === head.stats)
    assert(reloaded.strStats === head.strStats)
    assert(reloaded.fileSizes === head.fileSizes)
    // and the data plane agrees
    assert(vt.read(spark, "main").count() === 410)
    assert(vt.countRows(spark) === 410, "metadata COUNT through manifests")
  }

  test("resolved manifest lists are memoized: repeat heads, DV commits and time-travel walks resolve once") {
    val src = VersionedTable.create(Tables.scratch("mf_memo_src"))
    src.write((1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(4),
      "main", "v0", statsCols = Seq("k"))
    (1 to 4).foreach { i =>
      src.write(Seq((100L + i, s"a$i")).toDF("k", "v").coalesce(1), "main", s"a$i",
        mode = "append", statsCols = Seq("k"))
    }
    val dvc = src.deleteWithVectors(spark, "k = 3")
    assert(dvc.manifests === src.loadCommit(dvc.parent.get).manifests,
      "a deletion-vector commit keeps its parent's manifest list")
    // a byte copy of the table has new absolute manifest paths: both
    // process-wide caches start cold for it
    val copyRoot = java.nio.file.Paths.get(Tables.scratch("mf_memo_copy"))
    val walk = Files.walk(src.root)
    try walk.forEach { p =>
      val dst = copyRoot.resolve(src.root.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
    val vt = VersionedTable.open(copyRoot.toString)
    val memo = VersionedTable.resolvedLists
    def counts = (memo.hits, memo.misses, Manifest.cache.misses)
    // time travel from the v5 head to v0 walks six commits over five
    // distinct manifest lists (v5's is v4's) built from five manifests
    val (h0, m0, d0) = counts
    assert(vt.readVersion(spark, "main", 0).count() === 40)
    val (h1, m1, d1) = counts
    assert(m1 - m0 === 5, "each distinct manifest list resolves exactly once")
    assert(h1 - h0 >= 1, "the DV commit resolves from its parent's entry")
    assert(d1 - d0 === 5, "each manifest decodes exactly once")
    // a second head() of the unchanged branch is one hit and decodes nothing
    val head = vt.head("main").get
    assert(counts === ((h1 + 1, m1, d1)))
    assert(vt.loadCommit(head.id) == head)
    assert(head.files.size === 8 && head.rowCounts.size === 8)
    // so is the DV commit's own resolution and a repeat of the whole walk
    assert(vt.loadCommit(dvc.id).files === vt.loadCommit(dvc.parent.get).files)
    assert(vt.readVersion(spark, "main", 0).count() === 40)
    assert(counts._2 === m1 && counts._3 === d1, "a warm walk resolves nothing")
    assert(vt.countRows(spark) === 43)
  }

  test("stats skipping, time travel and COW rewrites work through manifests") {
    val vt = VersionedTable.create(Tables.scratch("mf_cow"))
    def part(lo: Int) = (lo until lo + 50).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").coalesce(1)
    vt.write(part(0), "main", "v0", statsCols = Seq("k"))
    vt.write(part(100), "main", "v1", mode = "append", statsCols = Seq("k"))
    vt.write(part(200), "main", "v2", mode = "append", statsCols = Seq("k"))
    // stats pruning resolves through manifest entries
    val pruned = vt.readWhere(spark, "main", "k", 110.0, 120.0)
    assert(pruned.inputFiles.length === 1, "manifest stats must still prune")
    assert(pruned.count() === 11)
    // COW delete: the touched manifest's survivors pool into the new
    // manifest; untouched manifests stay referenced
    val before = vt.head("main").get.manifests.toSet
    vt.delete(spark, "k >= 200") // kills exactly the v2 file
    val after = vt.head("main").get
    assert(vt.read(spark, "main").count() === 100)
    // the untouched v0/v1 manifests stay referenced; the fully-dead v2
    // manifest falls out of the list
    assert(after.manifests.toSet.intersect(before).size === 2,
      s"COW must reuse untouched manifests: ${after.manifests} vs $before")
    // partial rewrite: delete a slice of one file → survivors + rewritten
    vt.delete(spark, "k >= 140")
    assert(vt.read(spark, "main").count() === 90)
    assert(vt.read(spark, "main").agg(org.apache.spark.sql.functions.max($"k"))
      .head.getLong(0) === 139L)
    // time travel: every historical version resolves its own manifests
    assert(vt.readVersion(spark, "main", 0).count() === 50)
    assert(vt.readVersion(spark, "main", 2).count() === 150)
    assert(vt.readVersion(spark, "main", 3).count() === 100)
  }

  test("ANALYZE backfill migrates changed entries out of reused manifests") {
    val vt = VersionedTable.create(Tables.scratch("mf_analyze"))
    def part(lo: Int) = (lo until lo + 40).map(i => (i.toLong, s"n$i"))
      .toDF("k", "v").coalesce(1)
    vt.write(part(0), "main", "v0") // no stats at ingest
    vt.write(part(100), "main", "v1", mode = "append")
    assert(vt.head("main").get.stats.isEmpty)
    vt.computeStats(spark, Seq("k"))
    val head = vt.head("main").get
    assert(head.stats.size === 2, "backfilled stats for both files")
    // entries changed → they migrated into a fresh manifest; resolution is
    // still exact and pruning works
    assert(vt.loadCommit(head.id).stats === head.stats)
    assert(vt.readWhere(spark, "main", "k", 0.0, 10.0).inputFiles.length === 1)
  }

  test("manifest list compacts past MaxManifests; open() stays bounded") {
    val vt = VersionedTable.create(Tables.scratch("mf_compact"))
    val n = VersionedTable.MaxManifests + 3 // 35 commits
    (0 until n).foreach { i =>
      vt.write(Seq((i.toLong, s"r$i")).toDF("k", "v").coalesce(1), "main",
        s"c$i", mode = if (i == 0) "overwrite" else "append")
    }
    val head = vt.head("main").get
    assert(head.manifests.size <= VersionedTable.MaxManifests,
      s"manifest list must stay bounded, got ${head.manifests.size}")
    // compaction happened exactly once by now: v(Max) collapsed to 1 ref,
    // the trailing appends added one each
    assert(head.manifests.size === 1 + (n - 1 - VersionedTable.MaxManifests))
    assert(head.files.size === n)
    assert(vt.read(spark, "main").count() === n.toLong)
    assert(vt.countRows(spark) === n.toLong)
  }

  test("vacuum keeps REACHABLE commits' manifests (ancestry stays walkable), sweeps unreachable ones") {
    val vt = VersionedTable.create(Tables.scratch("mf_vacuum"))
    def part(lo: Int) = (lo until lo + 20).map(i => (i.toLong, i)).toDF("k", "v")
      .coalesce(1)
    vt.write(part(0), "main", "v0")
    vt.write(part(100), "main", "v1") // overwrite: v0's DATA falls off retention
    val v0 = vt.lineage("main").last
    assert(v0.manifests.nonEmpty && vt.head("main").get.manifests.nonEmpty)
    val v0Manifest = vt.root.resolve(v0.manifests.head)
    // a branch whose deletion makes its commit UNREACHABLE
    vt.createBranch("dead", "main")
    vt.write(part(500), "dead", "dead-v")
    val deadManifest = vt.root.resolve(vt.head("dead").get.manifests.head)
    vt.deleteBranch("dead")
    vt.vacuum(retainLast = 1)
    // v0 stays REACHABLE (head's parent): its data files sweep but its
    // manifest survives, so ancestry walks keep resolving in a fresh
    // process (the review-found hazard) — the dead branch's manifest goes
    assert(Files.exists(v0Manifest),
      "a reachable commit's manifest must survive vacuum — the record " +
        "must stay resolvable for ancestry walks")
    assert(!Files.exists(deadManifest), "unreachable manifests must sweep")
    assert(vt.loadCommit(v0.id).files === v0.files,
      "the vacuumed-data ancestor still RESOLVES (its data is gone, its " +
        "record is not)")
    vt.head("main").get.manifests
      .foreach(m => assert(Files.exists(vt.root.resolve(m)),
        "retained manifest must survive vacuum"))
    assert(vt.read(spark, "main").count() === 20)
    // and a post-vacuum vacuum (fresh ancestry walk) still works
    assert(vt.vacuum(retainLast = 1) === 0)
  }

  test("legacy inline commits convert on the next publish and stay readable") {
    val vt = VersionedTable.create(Tables.scratch("mf_legacy"))
    vt.write((1 to 30).map(i => (i.toLong, s"s$i")).toDF("k", "v")
      .repartition(2), "main", "v0", statsCols = Seq("k"))
    // simulate a pre-r20 table: rewrite the head record with everything inline
    val h = vt.head("main").get
    vt.store.put(vt.root.resolve("commits").resolve(h.id + ".json"),
      CommitLog.toJson(h.copy(manifests = Vector.empty)))
    val legacy = vt.head("main").get
    assert(legacy.manifests.isEmpty && legacy.files === h.files &&
      legacy.stats === h.stats, "inline commit reads back as before")
    // next append converts: ONE manifest now carries the whole snapshot
    val c = vt.write(Seq((99L, "x")).toDF("k", "v").coalesce(1), "main", "a",
      mode = "append", statsCols = Seq("k"))
    assert(c.manifests.size === 1)
    val resolved = vt.loadCommit(c.id)
    assert(resolved.files.toSet === (h.files.toSet + c.files.last) ||
      resolved.files.size === 3)
    assert(resolved.stats.keySet === c.stats.keySet)
    assert(vt.read(spark, "main").count() === 31)
  }

  test("REPO commits share manifests too: a 1-table commit into a multi-table repo is O(changed files)") {
    val repo = graft.vt.Repo.create(Tables.scratch("mf_repo"))
    def df(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    // v0: three tables in one atomic commit
    Seq("a", "b", "c").foreach(t =>
      repo.stageWrite(df(50).repartition(2), "main", t))
    val c0 = repo.commit("main", "v0")
    def raw(id: String) = java.nio.file.Files.readString(
      repo.root.resolve("commits").resolve(id + ".json"))
    assert(!raw(c0.id).contains("\"files\""),
      "repo commits must not inline the cross-table file list")
    // a commit touching ONE table reuses the others' segments by reference
    repo.stageAppend(df(5).coalesce(1), "main", "b")
    val c1 = repo.commit("main", "touch b")
    assert(raw(c1.id).length <= raw(c0.id).length + 300,
      s"repo record must stay O(changed): ${raw(c1.id).length} vs ${raw(c0.id).length}")
    assert(c1.manifests.exists(c0.manifests.contains),
      "untouched tables' manifests must carry by reference")
    // resolution: reads see all three tables, the appended rows included
    assert(repo.readTable(spark, "main", "b").count() === 55)
    assert(repo.readTable(spark, "main", "a").count() === 50)
    // vacuum keeps the retained manifests, sweeps unreferenced ones
    repo.stageWrite(df(50), "main", "a") // overwrite a
    repo.commit("main", "ow a")
    val swept = repo.vacuum(retainLast = 1)
    assert(swept > 0)
    assert(repo.readTable(spark, "main", "a").count() === 50)
    assert(repo.readTable(spark, "main", "b").count() === 55)
  }

  test("manifest codec round-trips long strings and raw-bit doubles exactly") {
    val dir = java.nio.file.Paths.get(Tables.scratch("mf_codec"))
    Files.createDirectories(dir)
    val p = dir.resolve("t.manifest")
    val long = "β" * 50000 // > 64 KB modified-UTF-8: writeUTF would throw
    val entries = Vector(
      graft.vt.ManifestEntry("data/a.parquet", Some(123L), Some(7L),
        Map("k" -> (-0.0d, Double.MaxValue), "t" -> (1e-300, 2.5)),
        Map("v" -> ("", long)), Map("k" -> 0L, "v" -> 3L)),
      graft.vt.ManifestEntry("data/b.parquet", None, None, Map.empty,
        Map.empty, Map.empty))
    Manifest.write(p, entries)
    assert(Manifest.read(p) === entries)
    assert(Manifest.cached(p) === entries)
  }
}
