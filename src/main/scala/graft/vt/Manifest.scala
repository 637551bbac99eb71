package graft.vt

import java.nio.file.{Files, Path}

/** One data file's complete commit-log metadata — the per-file quintuple the
  * commit JSON used to inline (`files` + `fileSizes` + `rowCounts` + `stats`
  * + `strStats` + `nullStats`), factored into a value that can live in an
  * immutable shared MANIFEST file instead ([[Manifest]]).
  *
  * Structural equality is the manifest REUSE test: a parent manifest is
  * carried by reference into a child commit iff every entry it holds is
  * byte-for-byte the child's metadata for a still-live file — so the check
  * is `entry == childEntry`, and the codec below round-trips doubles as raw
  * bits to keep that equality exact. */
final case class ManifestEntry(
    file: String,
    size: Option[Long],
    rows: Option[Long],
    stats: Map[String, (Double, Double)],
    strStats: Map[String, (String, String)],
    nulls: Map[String, Long])

/** Commit-metadata MANIFEST codec (r20). Every commit JSON used to inline
  * the COMPLETE file list plus five per-file stats maps, copied from the
  * parent on every publish — at 10⁶ files a one-row append serializes a
  * multi-GB record, every `open()` parses it, and the log stores it once
  * PER COMMIT. Delta stores deltas + parquet checkpoints; Iceberg shares
  * immutable manifest files across snapshots. This engine now does the
  * Iceberg shape: per-file metadata lives in write-once `.manifest` files
  * under `data/`, a commit records only the manifest PATHS
  * ([[Commit.manifests]]), an append writes ONE new manifest for its new
  * files and reuses the parent's untouched manifests BY REFERENCE, and
  * [[VersionedTable.loadCommit]] resolves the references back into the
  * in-memory [[Commit]] through two bounded process-wide caches — parsed
  * manifests ([[cached]]) and whole resolved manifest lists
  * ([[VersionedTable.resolvedLists]]) — so the commit record is O(changed
  * files), `open()` parses each shared manifest once per process, not once
  * per commit, and the O(files) per-file maps of a manifest list are built
  * once per process, not once per `loadCommit`.
  *
  * The r19 bloom sidecar ([[BloomIndex]]) proved the pattern; manifests are
  * the same contract for the file list itself. Like sidecars they are
  * data-plane artifacts: vacuum retains them through [[Commit.allFiles]]
  * and sweeps orphans.
  *
  * Format (write-once, driver-read): int32 magic "GMFT", int32 version (1),
  * int32 entry count, then per entry: path (len+UTF-8), size int64 (-1 =
  * unknown), rows int64 (-1 = unknown), numeric stats (int32 n, per col:
  * name, min/max as raw-bit doubles), string stats (int32 n, per col: name,
  * min/max as len+UTF-8 — NOT writeUTF, whose 64 KB modified-UTF-8 ceiling
  * a long string min/max would trip), null counts (int32 n, per col: name,
  * int64). */
object Manifest {

  private val Magic = 0x474d4654 // "GMFT"
  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  private def writeStr(out: java.io.DataOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF8)
    out.writeInt(b.length); out.write(b)
  }

  private def readStr(in: java.io.DataInputStream): String = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    new String(b, UTF8)
  }

  def write(path: Path, entries: Seq[ManifestEntry]): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Magic)
    out.writeInt(1)
    out.writeInt(entries.size)
    entries.foreach { e =>
      writeStr(out, e.file)
      out.writeLong(e.size.getOrElse(-1L))
      out.writeLong(e.rows.getOrElse(-1L))
      out.writeInt(e.stats.size)
      e.stats.toSeq.sortBy(_._1).foreach { case (col, (mn, mx)) =>
        writeStr(out, col)
        out.writeLong(java.lang.Double.doubleToRawLongBits(mn))
        out.writeLong(java.lang.Double.doubleToRawLongBits(mx))
      }
      out.writeInt(e.strStats.size)
      e.strStats.toSeq.sortBy(_._1).foreach { case (col, (mn, mx)) =>
        writeStr(out, col); writeStr(out, mn); writeStr(out, mx)
      }
      out.writeInt(e.nulls.size)
      e.nulls.toSeq.sortBy(_._1).foreach { case (col, n) =>
        writeStr(out, col); out.writeLong(n)
      }
    }
    out.flush()
    Files.write(path, bos.toByteArray)
  }

  def read(path: Path): Vector[ManifestEntry] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(Files.readAllBytes(path)))
    require(in.readInt() == Magic, s"$path is not a graft commit manifest")
    val ver = in.readInt()
    require(ver == 1, s"unsupported manifest version $ver in $path")
    val n = in.readInt()
    Vector.fill(n) {
      val file = readStr(in)
      val size = in.readLong() match { case -1L => None; case s => Some(s) }
      val rows = in.readLong() match { case -1L => None; case r => Some(r) }
      val stats = Vector.fill(in.readInt()) {
        (readStr(in),
          (java.lang.Double.longBitsToDouble(in.readLong()),
            java.lang.Double.longBitsToDouble(in.readLong())))
      }.toMap
      val strStats = Vector.fill(in.readInt()) {
        (readStr(in), (readStr(in), readStr(in)))
      }.toMap
      val nulls = Vector.fill(in.readInt()) { (readStr(in), in.readLong()) }.toMap
      ManifestEntry(file, size, rows, stats, strStats, nulls)
    }
  }

  // Bounded process-wide cache keyed by absolute manifest path: manifests
  // are immutable once published and the same manifest is referenced by
  // every descendant commit, so lineage walks and repeated `open()`s share
  // one parsed copy. A miss is one decode.
  private[graft] val cache = new BoundedCache[String, Vector[ManifestEntry]](512)

  def cached(path: Path): Vector[ManifestEntry] =
    cache.get(path.toAbsolutePath.toString)(read(path))

  /** The ONE manifest-factoring algorithm, shared by the table layer
    * ([[VersionedTable]], full per-file stats entries) and the repo layer
    * ([[Repo]], path-only entries): reuse every candidate manifest whose
    * entries are ALL still live and byte-identical to the commit's current
    * metadata for their files, pool the survivors of partially dead
    * manifests with the genuinely new files into ONE fresh manifest, and
    * compact everything into a single manifest when the reference list
    * would exceed `maxRefs` (so `open()` stays a bounded number of cached
    * reads forever — Iceberg's rewrite-manifests cadence, amortized
    * O(files/maxRefs) per commit).
    *
    * Returns (manifest refs, files in RESOLUTION order) — the order
    * loading the refs back reproduces, which publishers store in the
    * in-memory commit so a log round-trip is an identity. */
  def factor(load: String => Vector[ManifestEntry],
             write: Seq[ManifestEntry] => String,
             candidateRefs: Vector[String], files: Vector[String],
             entryOf: String => ManifestEntry,
             maxRefs: Int): (Vector[String], Vector[String]) = {
    if (files.isEmpty) return (Vector.empty, files)
    val fileSet = files.toSet
    var covered = Set.empty[String]
    val reused = Vector.newBuilder[String]
    val reusedFiles = Vector.newBuilder[String]
    val residual = Vector.newBuilder[ManifestEntry]
    candidateRefs.distinct.foreach { mref =>
      val entries =
        try load(mref)
        catch { case scala.util.control.NonFatal(_) => Vector.empty }
      // an entry survives iff its file is still in the snapshot, not
      // already covered by an earlier manifest (merge commits may reference
      // overlapping ancestors), and its metadata is UNCHANGED (ANALYZE
      // backfill and stats-evolving rewrites migrate files out)
      val live = entries.filter(e =>
        fileSet(e.file) && !covered(e.file) && entryOf(e.file) == e)
      if (live.nonEmpty && live.size == entries.size) {
        reused += mref
        live.foreach { e => covered += e.file; reusedFiles += e.file }
      } else if (live.nonEmpty) {
        live.foreach { e => covered += e.file; residual += e }
      }
    }
    val freshEntries = residual.result() ++ files.filterNot(covered).map(entryOf)
    val ordered = reusedFiles.result() ++ freshEntries.map(_.file)
    // decide compaction from the WOULD-BE ref count before writing anything:
    // writing the fresh manifest first and then compacting would orphan it
    // immediately — a wasted O(changed files) sidecar per compaction
    val wouldBe = reused.result().size + (if (freshEntries.nonEmpty) 1 else 0)
    if (wouldBe <= maxRefs)
      (reused.result() ++
        (if (freshEntries.nonEmpty) Vector(write(freshEntries)) else Vector.empty),
        ordered)
    else // compact: one manifest holding every live entry, resolution order
      (Vector(write(ordered.map(entryOf))), ordered)
  }
}
