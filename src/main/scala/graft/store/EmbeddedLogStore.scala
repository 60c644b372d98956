package graft.store

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One log record on the "wire": flat string key/values plus fixed
  * metadata — the data model of the reference's SLS store
  * (LoghubSourceRDD.scala:145-231: LogGroup{topic,source,tags} /
  * Log{time,contents}). */
case class LogRecord(
    time: Int, // unix seconds
    topic: String,
    source: String,
    tags: Map[String, String],
    contents: Map[String, String])

case class ShardInfo(id: Int, readOnly: Boolean)

/** A staged-but-uncommitted segment data file; carried in writer commit
  * messages from tasks to the driver's manifest commit. */
case class StagedSegment(shard: Int, file: String)

/** A committed segment as one snapshot places it: the fields its file
  * name carries (`<logicalName>-<minT>-<maxT>-<count>.jsonl`) plus
  * `base`, the ordinal of its first record in the shard's sequence. */
case class Segment(fileName: String, minTime: Int, maxTime: Int,
    count: Long, base: Long) {
  def end: Long = base + count
  /** Whether a read bounded by `timeRange` must open this segment: the
    * one time-prune rule, shared by the reader and the planner's packing
    * weights. */
  def overlaps(timeRange: Option[(Long, Long)]): Boolean =
    timeRange.forall { case (lo, hi) => maxTime >= lo && minTime < hi }
  def logicalName: String =
    fileName.stripSuffix(".jsonl").split("-").dropRight(3).mkString("-")
}

object Segment {
  def parse(fileName: String, base: Long = 0L): Segment = {
    val parts = fileName.stripSuffix(".jsonl").split("-")
    Segment(fileName, parts(parts.length - 3).toInt,
      parts(parts.length - 2).toInt, parts.last.toLong, base)
  }
}

/** One shard of a [[StoreSnapshot]]: its first live ordinal (0 until
  * retention moves it) and its live segments in commit order. */
case class ShardLog(start: Long, segments: IndexedSeq[Segment]) {
  /** END ordinal: retention moves the start, never the end. */
  def end: Long = segments.lastOption.fold(start)(_.end)
  /** The segments holding any ordinal in [from, until). */
  def clip(from: Long, until: Long): IndexedSeq[Segment] =
    segments.filter(s => s.base < until && s.end > from)
}

/** Immutable result of ONE validated manifest fold, plus the shard list
  * `meta.json` held when the fold read it. Every question an operation
  * asks of the log — shard ends and starts, segment listings and bases,
  * the replay skip set, the next version — is answered from one of
  * these, so the answers can never straddle a concurrent commit, expiry
  * or compaction. */
final class StoreSnapshot private[store] (
    /** Highest manifest version in the folded listing (0 = no commits). */
    val version: Long,
    val shards: Seq[ShardInfo],
    private[store] val files: Seq[String],
    private[store] val checkpointVersion: Long,
    private[store] val entries: Seq[(Int, String)],
    private[store] val absorbed: Seq[(Int, String)],
    private[store] val bases: Map[Int, Long]) {

  /** Manifest files in the folded listing — the count auto-compaction
    * compares with its threshold. */
  def manifestCount: Int = files.size

  private lazy val filesByShard: Map[Int, Seq[String]] = entries.groupMap(_._1)(_._2)
  // a shard's log is built on first use: a caller asking about one shard
  // parses only that shard's segment names
  private val shardLogs = scala.collection.concurrent.TrieMap[Int, ShardLog]()

  def shard(id: Int): ShardLog = shardLogs.getOrElseUpdate(id, {
    val start = bases.getOrElse(id, 0L)
    var at = start
    ShardLog(start, filesByShard.getOrElse(id, Seq.empty).map { f =>
      val seg = Segment.parse(f, at); at += seg.count; seg
    }.toIndexedSeq)
  })

  /** Every listed shard's log, plus any shard the manifests name. */
  def logs: Map[Int, ShardLog] =
    (shards.map(_.id) ++ filesByShard.keys ++ bases.keys).distinct.map(s => s -> shard(s)).toMap
  def starts: Map[Int, Long] = shards.map(s => s.id -> shard(s.id).start).toMap
  def ends: Map[Int, Long] = shards.map(s => s.id -> shard(s.id).end).toMap

  /** Everything ever committed — live manifest entries PLUS segments a
    * compaction or expiry absorbed. Replay idempotence (the commit skip,
    * the stage shape guard, discard) must use this set, not the live
    * entries, or an epoch replayed after its segments were merged away
    * would re-append its data. */
  lazy val committed: Set[(Int, String)] = (entries ++ absorbed).toSet

  /** The committed file of each (shard, logical segment name) that has
    * one, in one walk over the committed entries: a writer task stages
    * many segments against a snapshot of many entries. */
  def committedFiles(names: Seq[(Int, String)]): Map[(Int, String), String] = {
    val wanted = names.distinct.toArray
    val prefixes = wanted.map(_._2 + "-")
    val found = new Array[String](wanted.length) // the first match wins
    (entries.iterator ++ absorbed).foreach { case (s, f) =>
      var j = 0
      while (j < wanted.length) {
        if (found(j) == null && s == wanted(j)._1 && f.startsWith(prefixes(j)) &&
          Segment.parse(f).logicalName == wanted(j)._2) found(j) = f
        j += 1
      }
    }
    wanted.indices.filter(found(_) != null).map(j => wanted(j) -> found(j)).toMap
  }
}

/** File-backed sharded log store — the hermetic stand-in for the log
  * service the reference connects to (replaces LoghubClientAgent.java;
  * cursor model per Utils.decodeCursorToTimestamp, Utils.scala:221-225).
  *
  * Layout: `<root>/<project>/<store>/meta.json`, a `manifests/` commit
  * log, and per shard a directory of immutable JSONL segment files. A
  * shard's logical record sequence is the concatenation of its segments
  * in **manifest commit order**; a **cursor** is a base64-encoded record
  * ordinal in that sequence (the reference's cursors also decode to
  * numbers). Segment names carry their time bounds and record count
  * (`<name>-<minT>-<maxT>-<count>.jsonl`) so ordinal→segment seeks and
  * time-range pruning need no data reads.
  *
  * **Commit protocol** (two-phase, Delta-style): writers [[stageSegment]]
  * data files into the shard dirs — invisible to readers until a
  * manifest references them — then one [[commitSegments]] call publishes
  * the whole write atomically by linking `manifests/m-<version>.json`
  * (hard-link creation is atomic-fail-if-exists, so two racing
  * committers can never claim the same version; the loser re-reads and
  * retries with the next one). Readers fold the manifests in version
  * order, which makes segment ordinals append-only and stable even
  * while concurrent jobs are writing — a directory listing can tell you
  * a file exists, only the commit log can tell you *when it became
  * data*. Replayed epochs re-stage the same logical segment name and
  * commit idempotently: the file is replaced in place and its ordinal
  * position stays pinned by the first manifest that listed it.
  *
  * **One fold per operation.** The fold is a [[StoreSnapshot]]: an
  * operation (a batch plan, a micro-batch trigger, a writer task's
  * staging, a commit) takes one and answers everything from it, so its
  * cost does not grow with the number of shards or segments it asks
  * about. Partitions carry their segment lists from the plan's snapshot
  * to the readers, which open files directly and fold again only when a
  * racing compaction or expiry deleted a listed file. There is
  * deliberately no cache across operations: manifest names are reused
  * (a dropped and recreated store starts again at `m-0000000001.json`),
  * so nothing short of reading the files can tell a stale fold from a
  * current one.
  *
  * **One code path per decision.** Every fold, live or pinned at a
  * version, is [[snapshot]]; every manifest is published by
  * `linkManifest`; the three log rewrites (manifest compaction,
  * retention, segment compaction) share one optimistic checkpoint loop,
  * `rewriteLog`; and every data-file read (scans, time lookups,
  * compaction's merge input) goes through [[SegmentReader]]. So each
  * shares one re-list bound, the [[Retry.io]] contract and the
  * compaction heal path.
  *
  * On a cluster the root lives on shared storage; every operation here
  * is a pure function of manifest contents, so any executor can read or
  * write without coordination beyond the version link.
  */
class EmbeddedLogStore(root: String, ioRetries: Int = 10,
    ioBackoffMs: Long = 1000, ioMaxBackoffMs: Long = 10000)
    extends Serializable {
  import EmbeddedLogStore._

  /** Fault-injection seam for tests: every retryable IO section runs
    * through here. Production is the identity. */
  protected def fsOp[T](op: => T): T = op

  /** Retryable storage-IO section: transient IOExceptions back off and
    * retry per the reference client contract ([[Retry.io]]); protocol
    * signals (NoSuchFile / FileAlreadyExists) pass through to their
    * handlers. */
  private def io[T](op: => T): T =
    Retry.io(ioRetries, ioBackoffMs, ioMaxBackoffMs)(fsOp(op))

  private def storeDir(project: String, store: String) =
    Paths.get(root, project, store)
  private def shardDir(project: String, store: String, shard: Int) =
    storeDir(project, store).resolve(s"shard-$shard")
  private def metaPath(project: String, store: String) =
    storeDir(project, store).resolve("meta.json")
  private def manifestDir(project: String, store: String) =
    storeDir(project, store).resolve("manifests")

  def createStore(project: String, store: String, numShards: Int): Unit = {
    require(numShards > 0)
    val dir = storeDir(project, store)
    Files.createDirectories(dir)
    val shards = (0 until numShards).map(ShardInfo(_, readOnly = false))
    writeMeta(project, store, shards)
    shards.foreach(s => Files.createDirectories(shardDir(project, store, s.id)))
  }

  def listShards(project: String, store: String): Seq[ShardInfo] = {
    val bytes =
      try io(Files.readAllBytes(metaPath(project, store)))
      catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new IllegalArgumentException(s"no store $project/$store under $root")
      }
    Json.readTree(bytes).get("shards").elements().asScala.map { n =>
      ShardInfo(n.get("id").asInt(), n.get("readOnly").asBoolean())
    }.toSeq.sortBy(_.id)
  }

  private def writeMeta(project: String, store: String, shards: Seq[ShardInfo]): Unit = {
    val rootNode = Json.createObjectNode()
    val arr = rootNode.putArray("shards")
    shards.sortBy(_.id).foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("readOnly", s.readOnly)
    }
    writeAtomically(metaPath(project, store), Json.writeValueAsBytes(rootNode))
  }

  /** Replace `path` whole: write a temp sibling, then rename it over the
    * target. A concurrent reader sees the old or the new content, never
    * the empty or partial file an in-place rewrite exposes. */
  private def writeAtomically(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = tmpSibling(path)
    try io {
      Files.write(tmp, bytes)
      Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** A hidden temp name beside `path`, unique per writer thread: two
    * writers racing for the same target (two committers claiming one
    * manifest version) must never share a temp file, or one deletes the
    * file the other is about to link or rename. */
  private def tmpSibling(path: Path): Path = path.resolveSibling(
    s".${path.getFileName}.tmp-${System.nanoTime()}-${Thread.currentThread().getId}")

  /** Split a shard: parent becomes read-only, two new shards are created
    * (reference semantics: parent drains then is skipped —
    * DirectLoghubInputDStream.scala:138-145). */
  def splitShard(project: String, store: String, shard: Int): (Int, Int) = {
    val shards = listShards(project, store)
    require(shards.exists(s => s.id == shard && !s.readOnly), s"shard $shard not writable")
    val next = shards.map(_.id).max + 1
    val updated = shards.map(s => if (s.id == shard) s.copy(readOnly = true) else s) ++
      Seq(ShardInfo(next, readOnly = false), ShardInfo(next + 1, readOnly = false))
    Files.createDirectories(shardDir(project, store, next))
    Files.createDirectories(shardDir(project, store, next + 1))
    writeMeta(project, store, updated)
    (next, next + 1)
  }

  /** Stage one immutable segment data file into the shard dir. Invisible
    * to readers until a manifest references it. `segmentName` must be
    * unique per logical write and stable across retries: a task retry or
    * epoch replay re-stages the same name and the file is replaced
    * atomically in place.
    *
    * Segment file name: `<logicalName>-<minT>-<maxT>-<count>.jsonl` —
    * the embedded time bounds let time-range scans skip whole segments
    * with no data reads; record ORDER comes from the commit log, not
    * the file name. Returns the staged descriptor for commit. */
  def stageSegment(project: String, store: String, shard: Int,
      segmentName: String, records: Seq[LogRecord]): StagedSegment =
    stageSegments(project, store, Seq((shard, segmentName, records))).head

  /** Stage (shard, segment name, records) triples — a writer task's
    * segments for every shard it routed rows to — against ONE snapshot:
    * a replayed logical segment must not change shape once committed,
    * and every triple is checked against the same committed set. */
  def stageSegments(project: String, store: String,
      segments: Seq[(Int, String, Seq[LogRecord])]): Seq[StagedSegment] =
    if (segments.isEmpty) Seq.empty
    else stageWith(snapshot(project, store), project, store, segments)

  private def stageWith(snap: StoreSnapshot, project: String, store: String,
      segments: Seq[(Int, String, Seq[LogRecord])]): Seq[StagedSegment] = {
    val committed = snap.committedFiles(segments.map(s => (s._1, s._2)))
    segments.map { case (shard, segmentName, records) =>
      require(!segmentName.contains("/"), s"bad segment name $segmentName")
      require(records.forall(_.time >= 0), "record times must be >= 0")
      val dir = shardDir(project, store, shard)
      Files.createDirectories(dir)
      val sb = new StringBuilder
      records.foreach { r => sb.append(recordToJson(r)).append('\n') }
      val minT = records.map(_.time).minOption.getOrElse(0)
      val maxT = records.map(_.time).maxOption.getOrElse(0)
      val file = s"$segmentName-$minT-$maxT-${records.size}.jsonl"
      committed.get((shard, segmentName)).foreach { prior =>
        require(prior == file,
          s"replayed segment $segmentName is $file, committed as $prior")
      }
      writeAtomically(dir.resolve(file), sb.toString.getBytes(StandardCharsets.UTF_8))
      StagedSegment(shard, file)
    }
  }

  /** Atomically publish staged segments as one commit. Optimistic
    * versioning: the manifest is hard-linked into place as
    * `m-<version>.json` — link creation fails if the version is taken,
    * and the committer retries with the next number. Already-committed
    * segment files (an epoch replay) are skipped, keeping commit
    * idempotent and ordinals pinned. Within a commit, segments are
    * ordered by (shard, file name) — deterministic regardless of task
    * completion order. One snapshot gives both the skip set and the
    * version; a clean commit folds twice (that snapshot and the verify
    * below). */
  def commitSegments(project: String, store: String,
      staged: Seq[StagedSegment]): Unit = {
    val mDir = manifestDir(project, store)
    Files.createDirectories(mDir)
    var done = false
    var manifests = 0
    while (!done) {
      val snap = snapshot(project, store)
      manifests = snap.manifestCount
      val fresh = staged.filterNot(s => snap.committed.contains((s.shard, s.file)))
        .distinct.sortBy(s => (s.shard, s.file))
      if (fresh.isEmpty) { done = true }
      else {
        val version = snap.version + 1
        // a lost link race leaves `done` false: re-snapshot and retry
        if (linkManifest(mDir, version, checkpoint = false,
            fresh.map(s => (s.shard, s.file)))) {
          // The link can land in a version slot a concurrent compaction
          // just VACATED: if our listing raced the compactor's deletions
          // and missed its checkpoint, `version` can sit below the
          // checkpoint, the link finds the slot free (its old occupant
          // was deleted), and no fold will ever read the manifest. A
          // successful link is therefore not yet a durable commit —
          // verify the segments are visible in a validated fold, and if
          // a newer checkpoint superseded the slot without folding us,
          // delete the orphan and recommit at a fresh version.
          var verifying = true
          var attempt = 0
          while (verifying) {
            val view = snapshot(project, store)
            manifests = view.manifestCount
            val visible = view.entries.toSet
            if (fresh.forall(s => visible.contains((s.shard, s.file)))) {
              verifying = false; done = true
            } else if (view.checkpointVersion > version || attempt > MaxRelists) {
              Files.deleteIfExists(mDir.resolve(manifestName(version)))
              verifying = false // outer loop recommits the segments
            } else attempt += 1 // torn view missed our manifest: re-list
          }
        }
      }
    }
    // long-running streams write one manifest per epoch: fold the
    // history once the delta chain grows past the threshold so reader
    // cost stays bounded without operator intervention
    if (manifests > AutoCompactThreshold)
      compactManifests(project, store)
  }

  /** Delta-manifest count that triggers auto-compaction on commit. */
  val AutoCompactThreshold = 256

  /** Stage + commit in one call — the single-writer convenience path. */
  def appendSegment(project: String, store: String, shard: Int,
      segmentName: String, records: Seq[LogRecord]): Unit =
    commitSegments(project, store,
      Seq(stageSegment(project, store, shard, segmentName, records)))

  /** Delete staged-but-uncommitted segment files (an aborted job's
    * leftovers). Committed files are never touched. */
  def discardStaged(project: String, store: String,
      staged: Seq[StagedSegment]): Unit = {
    val committed = snapshot(project, store).committed
    staged.filterNot(s => committed.contains((s.shard, s.file))).foreach { s =>
      Files.deleteIfExists(shardDir(project, store, s.shard).resolve(s.file))
    }
  }

  /** Remove every data file no manifest references — the leftovers of
    * CRASHED jobs, which never reached abort(). Run only while no
    * writer is active: a concurrent job's staged-but-uncommitted
    * segments are indistinguishable from orphans (the store has no
    * clock to age-gate with, by design — determinism over convenience).
    * Returns the number of files removed. */
  def vacuumOrphans(project: String, store: String): Int = {
    val snap = snapshot(project, store)
    var removed = 0
    snap.shards.foreach { sh =>
      val dir = shardDir(project, store, sh.id)
      if (Files.isDirectory(dir)) {
        listDir(dir)
          .filter(n => n.endsWith(".jsonl") && !n.startsWith("."))
          .filterNot(n => snap.committed.contains((sh.id, n)))
          .foreach { n => Files.deleteIfExists(dir.resolve(n)); removed += 1 }
      }
    }
    removed
  }

  /** Directory listing that CLOSES its stream — `Files.list` holds an
    * open directory fd until closed, and the manifest protocol lists on
    * every fold, so an unclosed stream here exhausts the process fd
    * table under load. */
  private def listDir(dir: Path): Seq[String] = io {
    val stream = Files.list(dir)
    try stream.iterator().asScala.map(_.getFileName.toString).toSeq
    finally stream.close()
  }

  private def manifestFiles(project: String, store: String): Seq[String] = {
    val dir = manifestDir(project, store)
    if (!Files.isDirectory(dir)) return Seq.empty
    listDir(dir)
      .filter(n => n.startsWith("m-") && n.endsWith(".json"))
      .sorted // zero-padded version ⇒ commit order
  }

  private def manifestVersion(name: String): Long =
    name.stripPrefix("m-").stripSuffix(".json").toLong

  private def manifestName(version: Long): String = f"m-$version%010d.json"

  private def readManifest(mDir: Path, name: String): JsonNode =
    Json.readTree(io(Files.readAllBytes(mDir.resolve(name))))

  private def isCheckpoint(manifest: JsonNode): Boolean =
    manifest.get("checkpoint") != null && manifest.get("checkpoint").asBoolean()

  /** Highest committed manifest version (0 = empty store): the handle a
    * caller pins to read this exact state later (`snapshot(..., Some(v))`,
    * `store.snapshotversion`, SQL `VERSION AS OF`). */
  def latestVersion(project: String, store: String): Long =
    manifestFiles(project, store).map(manifestVersion).maxOption.getOrElse(0L)

  /** One validated fold of the manifest log, plus the shard list — see
    * [[StoreSnapshot]]. A checkpoint manifest (written by the log
    * rewrites) carries the full prefix folded in, so the fold starts at
    * the LAST checkpoint and reads only the delta manifests after it —
    * O(commits since compaction), not O(all commits ever).
    *
    * `atVersion` pins the fold to the manifests up to that version — the
    * snapshot / time-travel read surface. A record's ordinal is pinned by
    * the first manifest that listed it, so the pinned fold is exactly the
    * per-shard ordinal prefix as of that version, immune to later
    * appends. A version below the last checkpoint is permanently
    * unreadable (its deltas were folded away and deleted, as with Delta
    * Lake VACUUM) and fails loudly rather than silently reading a
    * different state; a version above the head reads as the head.
    *
    * A compaction can delete superseded delta manifests between our
    * directory listing and the per-file reads; a reader that trips on
    * the deletion re-lists (bounded retries) and picks up the checkpoint
    * that replaced the deleted deltas — same entries, same order.
    * A torn listing (later manifest observed, earlier one missed) is
    * detected by the contiguity guard in [[viewFrom]] and also
    * re-lists. */
  def snapshot(project: String, store: String,
      atVersion: Option[Long] = None): StoreSnapshot = {
    atVersion.foreach(v => require(v >= 0, s"snapshot version must be >= 0, got $v"))
    var attempt = 0
    while (attempt <= MaxRelists) {
      try {
        val files = manifestFiles(project, store)
        val pre = atVersion.fold(files)(v => files.filter(manifestVersion(_) <= v))
        // An empty prefix under a nonempty manifest log means the pinned
        // history is not listable (vacuously "valid" to viewFrom)
        val gone = pre.isEmpty && files.nonEmpty && atVersion.exists(_ >= 1)
        (if (gone) None else viewFrom(project, store, pre)) match {
          case Some(view) => return view
          case None =>
            // Either the pinned prefix was compacted away (a checkpoint
            // above it subsumed and deleted its deltas — permanent) or
            // the listing raced a writer/compactor (transient: re-list).
            atVersion.foreach { v =>
              val compacted = files.filter(manifestVersion(_) > v).exists { f =>
                try isCheckpoint(readManifest(manifestDir(project, store), f))
                catch { case _: java.nio.file.NoSuchFileException => false }
              }
              if (compacted) throw new IllegalArgumentException(
                s"snapshot version $v of $project/$store predates the " +
                  "last manifest compaction and is no longer readable")
            }
            attempt += 1
        }
      } catch {
        case _: java.nio.file.NoSuchFileException => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"manifest listing for $project/$store torn after $attempt attempts")
  }

  /** Per-shard END ordinals as of manifest `version` (retention base +
    * live counts: a shard whose every segment expired still ends at its
    * base) — see [[snapshot]]. */
  def shardEndsAt(project: String, store: String, version: Long): Map[Int, Long] =
    snapshot(project, store, Some(version)).logs.map { case (s, log) => s -> log.end }

  /** Fold an explicit manifest-file listing (sorted = commit order) into
    * committed (shard, file) pairs, validating the listing is an untorn
    * snapshot first. Manifest versions are DENSE by construction (max+1
    * with collision-retry on the link), so the versions at or after the
    * last checkpoint must be contiguous, and when no checkpoint is
    * present the listing must start at version 1. A hole means the
    * directory iteration raced a writer and observed a later manifest
    * while missing an earlier one — folding such a listing would
    * silently drop the missed commit's segments. Returns None so the
    * caller re-lists. (A missed manifest ABOVE the observed max is
    * harmless: readers fold a consistent prefix, and a compactor
    * checkpointing at max+1 collides on the link and retries.) */
  private def viewFrom(project: String, store: String,
      files: Seq[String]): Option[StoreSnapshot] = {
    val mDir = manifestDir(project, store)
    val trees = files.map(readManifest(mDir, _))
    val lastCkpt = trees.lastIndexWhere(isCheckpoint)
    val tailFiles = files.drop(math.max(lastCkpt, 0))
    val versions = tailFiles.map(manifestVersion)
    val untorn =
      versions.lazyZip(versions.drop(1)).forall((a, b) => b == a + 1) &&
        (lastCkpt >= 0 || versions.headOption.forall(_ == 1L))
    def pairs(n: JsonNode): Seq[(Int, String)] =
      n.elements().asScala.map(e => (e.get("shard").asInt(), e.get("file").asText())).toSeq
    if (!untorn) None
    else Some(new StoreSnapshot(
      versions.lastOption.getOrElse(0L),
      // read after the manifests: a shard a split added before any
      // listed commit could write to it is always in the list
      listShards(project, store),
      files,
      if (lastCkpt >= 0) manifestVersion(files(lastCkpt)) else 0L,
      trees.drop(math.max(lastCkpt, 0)).flatMap(t => pairs(t.get("segments"))),
      // only checkpoints carry an absorbed list (written by
      // compactSegments, carried forward by every later checkpoint)
      if (lastCkpt < 0) Seq.empty
      else Option(trees(lastCkpt).get("absorbed")).toSeq.flatMap(pairs),
      // per-shard base ordinals (written by expireSegments; absent = 0)
      if (lastCkpt < 0) Map.empty
      else Option(trees(lastCkpt).get("bases")).map { b =>
        b.asInstanceOf[ObjectNode].properties().asScala
          .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty)))
  }

  /** Fold the whole manifest history into one checkpoint manifest at the
    * next version (same optimistic link protocol as commits — safe under
    * racing committers), then delete the superseded delta manifests.
    * Readers that raced the deletion still see a consistent prefix:
    * every entry they could read from the old manifests is in the
    * checkpoint, in the same order. Run periodically (e.g. every ~1e3
    * epochs) to bound per-trigger manifest reads. */
  def compactManifests(project: String, store: String): Unit =
    rewriteLog(project, store)(view =>
      Some(Rewrite(view.entries, view.absorbed, view.bases)))

  /** A checkpoint planned against one snapshot: its entries, absorbed
    * list and retention bases; the data files it retires (deleted once
    * it lands); the files the plan staged (deleted if it loses the
    * race); and what the operation returns. */
  private case class Rewrite(entries: Seq[(Int, String)],
      absorbed: Seq[(Int, String)], bases: Map[Int, Long],
      retired: Seq[(Int, String)] = Seq.empty,
      staged: Seq[(Int, String)] = Seq.empty, result: Int = 0)

  /** The one log-rewrite loop behind [[compactManifests]],
    * [[expireSegments]] and [[compactSegments]]. ONE snapshot feeds both
    * the plan and the checkpoint's version (snapshot + 1): a manifest a
    * racing writer commits after the listing carries a version >= ours
    * and collides on the link, and the loser re-plans on a fresh
    * snapshot; a torn or raced listing never reaches a plan, because
    * [[snapshot]] re-lists it. Superseded delta manifests and retired
    * data files are deleted only after the link lands. Every plan
    * carries absorbed + bases forward (replay memory and retention bases
    * survive every later checkpoint). `plan` returns None when there is
    * nothing to rewrite; the result is the landed plan's (else 0). */
  private def rewriteLog(project: String, store: String)(
      plan: StoreSnapshot => Option[Rewrite]): Int = {
    val mDir = manifestDir(project, store)
    if (!Files.isDirectory(mDir)) return 0
    def delete(files: Seq[(Int, String)]): Unit = files.foreach { case (shard, f) =>
      Files.deleteIfExists(shardDir(project, store, shard).resolve(f))
    }
    while (true) {
      val view = snapshot(project, store)
      if (view.files.isEmpty) return 0
      plan(view) match {
        case None => return 0
        case Some(r) =>
          if (linkManifest(mDir, view.version + 1, checkpoint = true,
              r.entries, r.absorbed, r.bases)) {
            view.files.foreach(f => Files.deleteIfExists(mDir.resolve(f)))
            delete(r.retired)
            return r.result
          }
          // Lost the race. Staged names are DETERMINISTIC, so a racing
          // rewrite of the same view staged — and may have just
          // committed — these exact files; unconditional cleanup would
          // delete its committed data. Only files still absent from the
          // committed view are ours to remove.
          if (r.staged.nonEmpty) {
            val committed = snapshot(project, store).committed
            delete(r.staged.filterNot(committed.contains))
          }
      }
    }
    0 // unreachable
  }

  /** Publish one manifest at `version`: write it to a temp file, then
    * hard-link it as `m-<version>.json`. Link creation is
    * atomic-fail-if-exists, so two writers can never claim the same
    * version: returns false when the version is taken. A checkpoint
    * carries the folded prefix plus the absorbed list and bases. */
  private def linkManifest(mDir: Path, version: Long,
      checkpoint: Boolean, entries: Seq[(Int, String)],
      absorbed: Seq[(Int, String)] = Seq.empty,
      bases: Map[Int, Long] = Map.empty): Boolean = {
    val rootNode = Json.createObjectNode()
    rootNode.put("version", version)
    if (checkpoint) rootNode.put("checkpoint", true)
    def putPairs(field: String, pairs: Seq[(Int, String)]): Unit = {
      val arr = rootNode.putArray(field)
      pairs.foreach { case (shard, file) =>
        val n = arr.addObject(); n.put("shard", shard); n.put("file", file)
      }
    }
    putPairs("segments", entries)
    if (absorbed.nonEmpty) putPairs("absorbed", absorbed)
    if (bases.nonEmpty) {
      val b = rootNode.putObject("bases")
      bases.toSeq.sortBy(_._1).foreach { case (shard, base) =>
        b.put(shard.toString, base)
      }
    }
    val target = mDir.resolve(manifestName(version))
    val tmp = tmpSibling(target)
    io(Files.write(tmp, Json.writeValueAsBytes(rootNode)))
    try {
      io(Files.createLink(target, tmp))
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Time-based retention: drop every shard's PREFIX of segments whose
    * embedded maxTime < `beforeTime` — the log-store analog of Kafka
    * retention / Delta VACUUM, for aging out cold data at scale.
    *
    * Only a PREFIX expires: ordinals are positional, so dropping from
    * the middle would renumber later records. Instead each shard gets a
    * BASE ordinal (checkpoint `bases`): surviving records keep the
    * ordinals they always had, `earliest` resolves to the base, and a
    * checkpointed cursor below the base simply reads what still exists
    * (expired data is skipped — retention semantics, not an error).
    * Expired (shard, file) pairs join the absorbed list, so a streaming
    * epoch replayed after its output expired is still deduped, never
    * resurrected. Returns the number of segments expired. */
  def expireSegments(project: String, store: String, beforeTime: Int): Int =
    rewriteLog(project, store) { view =>
      val expired = mutable.Buffer[(Int, String)]()
      val newBases = mutable.Map[Int, Long]() ++ view.bases
      view.logs.foreach { case (shard, log) =>
        val pre = log.segments.takeWhile(_.maxTime < beforeTime)
        if (pre.nonEmpty) {
          expired ++= pre.map(seg => (shard, seg.fileName))
          newBases(shard) = pre.last.end
        }
      }
      if (expired.isEmpty) None
      else {
        val gone = expired.toSet
        Some(Rewrite(view.entries.filterNot(gone.contains),
          (view.absorbed ++ expired).distinct, newBases.toMap,
          retired = expired.toSeq, result = expired.size))
      }
    }

  /** First live ordinal of a shard (0 until retention moves it). The
    * `earliest` offset resolution target. */
  def shardStart(project: String, store: String, shard: Int): Long =
    snapshot(project, store).shard(shard).start

  /** Test seam: runs after a compaction attempt has staged its merged
    * files, before it tries to commit — lets a spec deterministically
    * interleave a concurrent compactor into the race window. */
  private[graft] var onCompactStaged: () => Unit = () => ()

  /** Bin-pack small consecutive segments into larger merged ones, per
    * shard — the OPTIMIZE counterpart to [[compactManifests]], aimed at
    * the small-files problem: a streaming sink writes one segment per
    * (epoch, task), so a long-lived stream accumulates thousands of
    * tiny files and every scan pays per-file open/parse overhead.
    *
    * Safety rests on two invariants:
    *   - ORDINALS ARE PRESERVED: a merged segment replaces consecutive
    *     segments of one shard in place, keeping record order, so
    *     cursors, snapshot ends, bounded scans, and in-flight streaming
    *     offsets all mean exactly what they meant before. Readers that
    *     listed the old layout and trip on a deleted file re-list and
    *     resume at their current ordinal (see [[read]]). (The cosmetic
    *     `__sequence_number__` "<segment>-<offset>" strings are derived
    *     from segment BOUNDARIES and do change across a rewrite —
    *     ordinals, not sequence strings, are the stable identity.)
    *   - REPLAY IDEMPOTENCE SURVIVES: the merged-away (shard, file)
    *     pairs move to the checkpoint's `absorbed` list, which
    *     [[commitSegments]]' duplicate-skip and [[stageSegment]]'s
    *     shape guard consult — a streaming epoch replayed after its
    *     segments were merged is skipped, not re-appended.
    *
    * Commit goes through [[rewriteLog]], the optimistic checkpoint
    * protocol every log rewrite shares. Merged names are a digest of
    * their constituents, so a crashed or raced attempt re-stages the
    * same name atomically. Runs of >= 2 consecutive segments are merged
    * while their record total stays <= `targetRecords`; segments at or
    * above the target are left alone. Returns the number of merged
    * segments written (0 = nothing worth merging). */
  def compactSegments(project: String, store: String,
      targetRecords: Long = 1L << 20): Int = {
    require(targetRecords > 0, s"targetRecords $targetRecords must be > 0")
    rewriteLog(project, store) { view =>
      // greedy consecutive runs per shard: >= 2 segments, <= target
      val runOf = mutable.Map[(Int, String), Int]()
      val runs = mutable.Buffer[(Int, Seq[Segment])]()
      view.logs.foreach { case (shard, log) =>
        var cur = mutable.Buffer[Segment]()
        var total = 0L
        def flush(): Unit = {
          if (cur.size >= 2) {
            val id = runs.size
            runs += ((shard, cur.toSeq))
            cur.foreach(seg => runOf((shard, seg.fileName)) = id)
          }
          cur = mutable.Buffer[Segment](); total = 0L
        }
        log.segments.foreach { seg =>
          val c = seg.count
          if (c >= targetRecords) flush()
          else {
            if (total + c > targetRecords) flush()
            cur += seg; total += c
          }
        }
        flush()
      }
      if (runs.isEmpty) None
      else {
        // stage each merged segment (constituents read in order)
        val merged = runs.map { case (shard, segs) =>
          val records = readSegments(project, store, shard, segs,
            segs.head.base, segs.last.end, None).records.map(_._2).toVector
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest((s"$shard|" + segs.map(_.fileName).mkString("|"))
              .getBytes(StandardCharsets.UTF_8))
          val hex = digest.take(8).map(b => f"$b%02x").mkString
          (shard, stageWith(view, project, store,
            Seq((shard, s"opt$hex", records))).head.file)
        }
        // rewrite the entry list: a run's first member becomes the
        // merged file, later members drop out, everything else stays
        val emitted = mutable.Set[Int]()
        val newEntries = view.entries.flatMap { case (shard, f) =>
          runOf.get((shard, f)) match {
            case Some(id) => if (emitted.add(id)) Some(merged(id)) else None
            case None => Some((shard, f))
          }
        }
        val retired = runs.toSeq.flatMap { case (shard, segs) =>
          segs.map(seg => (shard, seg.fileName)) }
        onCompactStaged()
        Some(Rewrite(newEntries, (view.absorbed ++ retired).distinct, view.bases,
          retired = retired, staged = merged.toSeq, result = runs.size))
      }
    }
  }

  /** A shard's committed segments in commit order — the record sequence
    * cursors index into. Pure function of the manifest log: stable under
    * concurrent writers and racing readers. */
  def listSegments(project: String, store: String, shard: Int): Seq[Segment] =
    snapshot(project, store).shard(shard).segments

  /** Total records ever committed to a shard = END cursor ordinal
    * (retention moves the START, never the end). */
  def shardEnd(project: String, store: String, shard: Int): Long =
    snapshot(project, store).shard(shard).end

  /** First ordinal whose record time >= t (for cursor-from-time);
    * shardEnd if none. Segments whose embedded maxTime < t are skipped
    * from the listing alone: the read starts at the first segment with
    * maxTime >= t, which holds the answer. */
  def cursorAtTime(project: String, store: String, shard: Int, t: Int): Long = {
    val log = snapshot(project, store).shard(shard)
    log.segments.find(_.maxTime >= t).fold(log.end) { seg =>
      val it = readSegments(project, store, shard, log.segments, seg.base,
        log.end, None)
      try it.records.find(_._2.time >= t).fold(log.end)(_._1) finally it.close()
    }
  }

  /** Exact per-shard record count with time in [fromT, untilT) — the
    * histogram primitive behind admission control (reference O4,
    * LoghubOffsetReader.scala:155-220; ours is exact, not bucketed).
    * Segments fully inside the range are counted from their embedded
    * metadata; fully outside are skipped — only boundary-straddling
    * segments are read, each over its own ordinal range, so a read that
    * heals across a racing compaction still counts exactly its records. */
  def countInTimeRange(project: String, store: String, shard: Int,
      fromT: Int, untilT: Int): Long =
    snapshot(project, store).shard(shard).segments.map { seg =>
      if (seg.minTime >= untilT || seg.maxTime < fromT) 0L
      else if (seg.minTime >= fromT && seg.maxTime < untilT) seg.count
      else readSegments(project, store, shard, Seq(seg), seg.base, seg.end,
        Some((fromT.toLong, untilT.toLong))).records.size.toLong
    }.sum

  /** Read records with ordinals in [from, until). An optional time range
    * [fromT, untilT) additionally (a) skips whole segments whose embedded
    * [minTime, maxTime] bounds are disjoint from it — a listing-only
    * decision, no data reads — and (b) filters surviving records exactly.
    * Ordinal numbering is unaffected by skipping. Segments stream through
    * a buffered reader (no whole-file materialization) and lines that
    * fall outside the ordinal range are skipped without parsing.
    *
    * Self-healing under [[compactSegments]]: a racing compaction can
    * delete a listed file before this iterator opens it. Ordinals are
    * stable across compaction (merges preserve per-shard order), so the
    * iterator re-lists and resumes at the next unread ordinal — each
    * record is still produced exactly once. */
  def read(project: String, store: String, shard: Int,
      from: Long, until: Long,
      timeRange: Option[(Int, Int)] = None): Iterator[(Long, LogRecord)] =
    readSegments(project, store, shard,
      snapshot(project, store).shard(shard).segments, from, until,
      timeRange.map { case (lo, hi) => (lo.toLong, hi.toLong) }).records

  /** The lines behind [[read]], over a segment list an earlier snapshot
    * resolved (a partition's carried list): no fold unless a listed file
    * is gone. `timeRange` is [lo, hi) in epoch seconds; Long bounds let
    * "no upper bound" admit a record stamped Int.MaxValue. */
  def readSegments(project: String, store: String, shard: Int,
      segments: Seq[Segment], from: Long, until: Long,
      timeRange: Option[(Long, Long)]): SegmentReader =
    new SegmentReader(project, store, shard, segments, from, until, timeRange)

  /** Walks the lines with ordinals in [from, until) of the segments
    * `timeRange` overlaps, one at a time: [[advance]], then [[line]],
    * [[ordinal]] and [[segmentBase]] (the base of the segment the line
    * came from, so a caller's sequence numbers always match the listing
    * the line was actually read from, healed or not). A line-level
    * caller parses each line once and applies the time range to that
    * parse; [[records]] is the record-level view. */
  final class SegmentReader private[EmbeddedLogStore] (project: String,
      store: String, shard: Int, listed: Seq[Segment], from: Long,
      until: Long, timeRange: Option[(Long, Long)]) {
    private val dir = shardDir(project, store, shard)
    private var cur = from // next ordinal not yet consumed
    private var heals = 0
    private var todo = select(listed)
    private var file: java.io.BufferedReader = null
    private var fileBase = 0L
    private var lineOrd = 0L // ordinal of the open file's next line
    private var line_ : String = null
    private var base = 0L

    /** The current line: valid after [[advance]] returned true. */
    def line: String = line_
    def ordinal: Long = cur - 1
    def segmentBase: Long = base

    private def select(segs: Seq[Segment]): Iterator[Segment] =
      segs.iterator.filter { seg =>
        seg.base < until && seg.end > cur && seg.overlaps(timeRange)
      }

    private def heal(): Unit = {
      heals += 1
      if (heals > MaxRelists) throw new IllegalStateException(
        s"segment listing for $project/$store shard $shard raced " +
          s"compaction $heals times")
      todo = select(snapshot(project, store).shard(shard).segments)
    }

    def close(): Unit = if (file != null) { file.close(); file = null }

    /** Moves to the next line; false (and closed) at the end. */
    def advance(): Boolean = {
      while (cur < until) {
        if (file == null) {
          if (!todo.hasNext) { line_ = null; return false }
          val seg = todo.next()
          try {
            file = io(Files.newBufferedReader(dir.resolve(seg.fileName),
              StandardCharsets.UTF_8))
            fileBase = seg.base; lineOrd = seg.base
          } catch { case _: java.nio.file.NoSuchFileException => heal() }
        } else {
          val l = file.readLine()
          val ord = lineOrd
          lineOrd += 1
          if (l == null || ord >= until) close()
          else if (ord >= cur) {
            cur = ord + 1
            line_ = l; base = fileBase
            return true
          }
        }
      }
      close()
      line_ = null
      false
    }

    /** The records of the lines, parsed with [[jsonToRecord]] and
      * filtered to `timeRange`. */
    def records: Iterator[(Long, LogRecord)] = new Iterator[(Long, LogRecord)] {
      private var pending: (Long, LogRecord) = null
      override def hasNext: Boolean = {
        while (pending == null && advance()) {
          val r = jsonToRecord(line_)
          if (timeRange.forall { case (lo, hi) => r.time >= lo && r.time < hi })
            pending = (ordinal, r)
        }
        pending != null
      }
      override def next(): (Long, LogRecord) = {
        if (!hasNext) throw new NoSuchElementException("read past the end")
        val r = pending
        pending = null
        r
      }
    }
  }

  /** Live source-config override (reference O12 dynamic config,
    * DynamicConfigManager.scala:30-120 — ZK watcher there, a per-trigger
    * re-read of `<store>/config.json` here; same contract: ops can
    * retune a running stream without restarting it). */
  def writeSourceConfig(project: String, store: String,
      config: Map[String, String]): Unit = {
    val root = Json.createObjectNode()
    root.put("version", "v1")
    val c = root.putObject("config")
    config.foreach { case (k, v) => c.put(k, v) }
    writeAtomically(storeDir(project, store).resolve("config.json"),
      Json.writeValueAsBytes(root))
  }

  /** Consumer-group offset commit (reference CheckpointManager.java:
    * 18-137 + DirectLoghubInputDStream.commitAsync, :227-241): external
    * progress interop — a named group's per-shard high-water ordinals,
    * readable by other tooling and usable to resume a new query. The
    * group view is MONOTONIC per shard, like the reference's
    * checkCursorLessThan guard: a stale commit (replayed epoch, late
    * listener event) never regresses the group.
    *
    * Monotonicity is structural, not lock-based: a commit APPENDS an
    * immutable entry file under `groups/<group>/` and the view is the
    * per-shard MAX over all entries — there is no read-modify-write, so
    * concurrent committers (two listeners, two store handles, two JVMs)
    * cannot lose each other's progress the way a re-read-and-overwrite
    * scheme would. Max-merge is commutative/associative/idempotent, so
    * entry arrival order never matters. Opportunistic compaction folds
    * entries past a threshold into one (the merged entry lands via
    * ATOMIC_MOVE before its absorbed inputs are deleted, and a racing
    * compactor just writes an equivalent fold of a subset — deletes are
    * idempotent, readers retry a torn listing). Returns the folded view
    * including this commit. */
  def commitGroupOffsets(project: String, store: String, group: String,
      offsets: Map[Int, Long]): Map[Int, Long] = {
    val dir = groupDir(project, store, group)
    io(Files.createDirectories(dir))
    writeGroupEntry(dir, offsets)
    val entries = listGroupEntries(dir)
    if (entries.size > GroupCompactThreshold) compactGroupEntries(dir, entries)
    foldGroupEntries(dir)
  }

  /** A group's committed per-shard ordinals; empty if never committed. */
  def readGroupOffsets(project: String, store: String,
      group: String): Map[Int, Long] =
    foldGroupEntries(groupDir(project, store, group))

  private val GroupCompactThreshold = 32

  private def groupDir(project: String, store: String,
      group: String): Path = {
    require(group.matches("[A-Za-z0-9._-]+"), s"invalid group name '$group'")
    storeDir(project, store).resolve("groups").resolve(group)
  }

  private def writeGroupEntry(dir: Path,
      offsets: Map[Int, Long]): Unit = {
    val root = Json.createObjectNode()
    val o = root.putObject("offsets")
    offsets.toSeq.sortBy(_._1).foreach { case (s, v) => o.put(s.toString, v) }
    // unique name: nanos + thread id + random suffix — entries are
    // append-only, so uniqueness is all that's needed (no ordering)
    val name = s"c-${System.nanoTime()}-${Thread.currentThread().getId}-" +
      s"${scala.util.Random.nextInt(Int.MaxValue)}.json"
    writeAtomically(dir.resolve(name), Json.writeValueAsBytes(root))
  }

  private def listGroupEntries(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Seq.empty
    else listDir(dir).filter(n => n.startsWith("c-") && n.endsWith(".json"))

  private def readGroupEntry(dir: Path,
      name: String): Option[Map[Int, Long]] =
    try {
      val n = Json.readTree(io(Files.readAllBytes(dir.resolve(name)))).get("offsets")
      if (n == null) Some(Map.empty)
      else Some(n.asInstanceOf[ObjectNode].properties().asScala
        .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap)
    } catch { // deleted by a concurrent compactor — its fold covers it
      case _: java.nio.file.NoSuchFileException => None
    }

  private def foldGroupEntries(dir: Path): Map[Int, Long] = {
    var attempt = 0
    while (true) {
      val names = listGroupEntries(dir)
      val reads = names.map(n => n -> readGroupEntry(dir, n))
      // a missing entry means a compactor merged-and-deleted it while we
      // listed; its merged replacement may postdate our listing — relist
      if (reads.forall(_._2.isDefined))
        return reads.flatMap(_._2.get).groupBy(_._1)
          .map { case (s, vs) => s -> vs.map(_._2).max }
      attempt += 1
      if (attempt > MaxRelists) throw new IllegalStateException(
        s"group listing at $dir torn after $attempt attempts")
    }
    throw new IllegalStateException("unreachable")
  }

  private def compactGroupEntries(dir: Path,
      names: Seq[String]): Unit = {
    val folded = names.flatMap(n => readGroupEntry(dir, n))
    if (folded.isEmpty) return
    val merged = folded.flatten.groupBy(_._1)
      .map { case (s, vs) => s -> vs.map(_._2).max }
    // merged entry FIRST (atomic), absorbed inputs after: a crash or
    // race in between leaves duplicates, which max-merge absorbs
    writeGroupEntry(dir, merged)
    names.foreach { n =>
      try Files.deleteIfExists(dir.resolve(n))
      catch { case _: java.io.IOException => () }
    }
  }

  /** Declared-schema metadata for the SQL catalog surface
    * ([[graft.connector.LogServiceCatalog]]): a store is wire-level
    * schemaless (string key/values), but a CREATE TABLE can pin the
    * typed read/write schema, persisted as DDL next to meta.json so
    * every session resolves the same table shape. */
  def writeTableSchema(project: String, store: String, ddl: String): Unit =
    writeAtomically(storeDir(project, store).resolve("schema.ddl"),
      ddl.getBytes(StandardCharsets.UTF_8))

  def readTableSchema(project: String, store: String): Option[String] = {
    val p = storeDir(project, store).resolve("schema.ddl")
    if (Files.exists(p)) Some(new String(io(Files.readAllBytes(p)),
      StandardCharsets.UTF_8)) else None
  }

  def storeExists(project: String, store: String): Boolean =
    Files.exists(storeDir(project, store).resolve("meta.json"))

  def listProjects(): Seq[String] = {
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) Seq.empty
    else listDir(rootPath).filter(n => Files.isDirectory(rootPath.resolve(n))).sorted
  }

  def listStores(project: String): Seq[String] = {
    val p = Paths.get(root, project)
    if (!Files.exists(p)) Seq.empty
    else listDir(p).filter(n => Files.exists(p.resolve(n).resolve("meta.json"))).sorted
  }

  /** Irreversibly delete a store (catalog DROP TABLE). */
  def dropStore(project: String, store: String): Boolean = {
    val dir = storeDir(project, store)
    if (!Files.exists(dir)) return false
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally s.close()
    true
  }

  def readSourceConfig(project: String, store: String): Map[String, String] = {
    val p = storeDir(project, store).resolve("config.json")
    if (!Files.exists(p)) return Map.empty
    val n = Json.readTree(io(Files.readAllBytes(p))).get("config")
    if (n == null) Map.empty
    else n.asInstanceOf[ObjectNode].properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

}

object EmbeddedLogStore {
  /** Bound on the re-lists of one operation that keeps losing races
    * (torn listings, files deleted under it): past it, it fails loudly. */
  private val MaxRelists = 64

  /** The store's one Jackson mapper: configured once, then thread-safe,
    * so every manifest, metadata and fallback record parse shares it. */
  private val Json = new ObjectMapper()

  private val B64 = java.util.Base64.getEncoder
  private val B64D = java.util.Base64.getDecoder

  /** Cursors are base64 ordinals, like the reference's base64 numeric
    * cursors (ShardUtils.decodeCursor, ShardUtils.scala:8-11). */
  def encodeCursor(ordinal: Long): String =
    B64.encodeToString(ordinal.toString.getBytes(StandardCharsets.UTF_8))
  def decodeCursor(cursor: String): Long =
    new String(B64D.decode(cursor), StandardCharsets.UTF_8).toLong

  /** Direct string serialization — ~3x less allocation than building a
    * Jackson tree per record on the hot write path. [[FastJsonl]] reads
    * exactly this shape back. */
  private[graft] def recordToJson(r: LogRecord): String = {
    val sb = new StringBuilder(64)
    sb.append("{\"time\":").append(r.time)
    sb.append(",\"topic\":"); appendJsonString(sb, r.topic)
    sb.append(",\"source\":"); appendJsonString(sb, r.source)
    sb.append(",\"tags\":{")
    var first = true
    r.tags.foreach { case (k, v) =>
      if (!first) sb.append(',')
      first = false
      appendJsonString(sb, k); sb.append(':'); appendJsonString(sb, v)
    }
    sb.append("},\"contents\":{")
    first = true
    r.contents.foreach { case (k, v) =>
      if (!first) sb.append(',')
      first = false
      appendJsonString(sb, k); sb.append(':'); appendJsonString(sb, v)
    }
    sb.append("}}")
    sb.toString
  }

  private def appendJsonString(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** A data line's record: [[FastJsonl]] for the writer's own shape, the
    * tolerant Jackson parse for anything else (the two are
    * differential-tested against each other in `FastJsonlSpec`). */
  private[graft] def jsonToRecord(line: String): LogRecord = {
    val fast = FastJsonl.tryParse(line)
    if (fast != null) fast else jacksonToRecord(line)
  }

  private[graft] def jacksonToRecord(line: String): LogRecord = {
    val n = Json.readTree(line)
    def toMap(field: String): Map[String, String] = {
      val node = n.get(field)
      if (node == null) Map.empty
      else node.asInstanceOf[ObjectNode].properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }
    LogRecord(n.get("time").asInt(), n.get("topic").asText(""),
      n.get("source").asText(""), toMap("tags"), toMap("contents"))
  }
}
