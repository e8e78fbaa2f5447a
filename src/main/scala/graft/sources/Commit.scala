package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The durability layer's commit seam (round-15 verdict #1).
  *
  * Every durable publish point in this engine — artifact version
  * commits ([[Artifacts]]), delta-manifest versions, the maintenance
  * lease and its takeover/release tombstones
  * ([[graft.streaming.DeltaLog]]) — needs ONE primitive: *single-winner
  * materialization of content at an agreed name*. Until round 15 all
  * of them assumed `FileContext.rename(tmp, dst, Rename.NONE)` is an
  * atomic no-overwrite rename. That holds on POSIX and HDFS — and
  * does NOT hold on the S3/GCS-class object stores a 100 TB lake
  * actually lives on, where "rename" is a non-atomic copy+delete and
  * `Rename.NONE` is a check-then-act existence probe. This object
  * makes the assumption explicit and selectable:
  *
  *  - [[Rename]] — the POSIX/HDFS fast path: temp file/dir in the
  *    same directory, `FileContext.rename(…, Rename.NONE)` as the
  *    atomic single-winner commit. Bit-identical to the pre-round-16
  *    protocol.
  *  - [[Cas]] — the portable object-store path: *conditional create*
  *    (create-if-absent: S3 `If-None-Match:*` PUT, GCS
  *    `ifGenerationMatch=0`, ABFS ETag create, exposed through
  *    Hadoop as `create(path, overwrite = false)`) plus a READ-BACK
  *    VERIFY of the winner's content. Directory commits become
  *    claim-marker + move-parts + stamp-last (readers already gate on
  *    the stamp, so partial dirs are never resolvable).
  *
  * Strategy is resolved PER SCHEME: `graft.commit.strategy.<scheme>`
  * in the Hadoop conf when set (`rename` | `cas`), else a built-in
  * table — rename for `file`/`hdfs`/`viewfs`/`o3fs`/`ofs` (atomic
  * rename is their contract), cas for everything else (object stores
  * and unknown schemes: conditional create is the weaker, more widely
  * honest assumption; a store that also has atomic rename merely pays
  * one extra marker file per publish).
  *
  * == Per-store-class protocol table ==
  *
  * | Store class                | Strategy | Single-winner primitive  | Guarantee |
  * |----------------------------|----------|--------------------------|-----------|
  * | POSIX local FS             | rename   | rename(2) no-overwrite   | atomic; full dir appears at once |
  * | HDFS / Ozone               | rename   | NN rename w/ NONE        | atomic; full dir appears at once |
  * | S3 (Aug-2024+ conditional writes), GCS, ABFS | cas | conditional PUT (`create(…, false)`) | atomic per object; dirs via claim + stamp-last (readers gate on the stamp) |
  * | S3-compatible WITHOUT conditional PUT | cas | HEAD-then-PUT + read-back verify | NOT single-winner: two writers can interleave HEAD/PUT so both pass the create; the read-back verify converts that into at-most-one *confirmed* winner and is a mitigation, not a proof — deploy such stores behind a coordination service or accept the documented residual |
  *
  * Residuals under cas, all documented at their call sites:
  * manifest/lease files are complete-on-visibility only where PUT is
  * atomic per object (every real object store; NOT a raw HDFS/POSIX
  * `create` — which is why those default to rename). The manifest
  * carries a `#committed` trailer so a reader that does catch an
  * in-flight object (crash mid-create on a non-object-store cas
  * deployment) falls back to the previous committed version instead
  * of serving a torn part list.
  *
  * == Consistency model (round-17: the visibility-lag adversary) ==
  *
  * The protocol additionally survives EVENTUALLY-CONSISTENT listings
  * and 404-caching HEADs (legacy S3 semantics; modern S3/GCS/ABFS
  * are strongly consistent and none of this costs anything there):
  *
  * | Staleness mode | Hazard | Protocol answer |
  * |---|---|---|
  * | LIST hides new PUTs | committer unions against a stale manifest set and DROPS a landed part; reader serves stale | version resolution LISTs for a floor then PROBES FORWARD by key (`v=max+1, …` — point reads are strong); publish advances past create conflicts monotonically (the failed conditional create proves existence) |
  * | LIST of a freshly-built dir misses the file burst | cas dir commit stamps an EMPTY version — silent loss | settled listing: two consecutive agreeing LISTs spaced `GRAFT_COMMIT_SETTLE_MS` apart (spacing must exceed the store's staleness bound; default 0 = single list) before moving parts |
  * | LIST still serves deleted entries | mover crashes on a phantom `_temporary` entry | phantom entries are skipped (FileNotFound on a listed entry = already gone), stamp-last still gates completeness |
  * | HEAD 404 negative-cached | forward probe misses a just-landed version for the cache window | bounded read staleness for readers; writers never re-probe after a conflict (above), so they cannot be poisoned |
  * | own fresh publish lists empty to its publisher | schema inference fails on a durably complete dataset | bounded read-after-publish retry with the session listing cache dropped (`Artifacts.readSettled`; deployment analogue `spark.sql.metadataCacheTTLSeconds`) |
  *
  * Out of scope (documented, not ours): the DATA-PLANE task committer.
  * Hadoop's default FileOutputCommitter discovers task files by
  * LISTing its `_temporary` staging and silently commits an empty
  * dir under lag — deploy a store-native committer (S3A magic /
  * staging) exactly as every Spark-on-S3 deployment must.
  *
  * The adversarial `AdvFileSystem` (test sources) models the
  * object-store contract — FileContext renames silently overwrite and
  * are non-atomic copy+delete; conditional create is honored; LIST
  * lag and HEAD-404 caching switch on via `GRAFT_ADVFS_LAG_MS` /
  * `GRAFT_ADVFS_NEG_MS` — and the process drills (artifact race,
  * crash drills, maintain, lease, back-to-back commit storm) run
  * green under it with the cas strategy (`ObjectStoreDrillSpec`).
  */
object Commit {

  sealed trait Strategy
  case object Rename extends Strategy
  case object Cas extends Strategy

  /** Schemes whose FileSystem contract includes atomic no-overwrite
    * rename — the rename fast path is both safe and cheaper there.
    */
  private val RenameSchemes = Set("file", "hdfs", "viewfs", "o3fs", "ofs")

  /** Resolve the commit strategy for a path: explicit conf override
    * `graft.commit.strategy.<scheme>` wins; else rename for the known
    * rename-atomic schemes, cas for everything else. A null scheme
    * (relative path against the default FS) resolves through the
    * default FS's scheme.
    */
  def strategyFor(conf: Configuration, uri: URI): Strategy = {
    val scheme = Option(uri.getScheme)
      .orElse(Option(FileSystem.getDefaultUri(conf).getScheme))
      .getOrElse("file")
    conf.get(s"graft.commit.strategy.$scheme") match {
      case "rename" => Rename
      case "cas" => Cas
      case null | "" =>
        if (RenameSchemes(scheme)) Rename else Cas
      case other => sys.error(
        s"graft.commit.strategy.$scheme='$other' — expected rename|cas")
    }
  }

  private def fctxOf(conf: Configuration, p: Path) =
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Was this IOException a lost no-overwrite-rename race? Surfaces
    * differently per FS: FileAlreadyExistsException on HDFS, a generic
    * "already exists" message on the local FS.
    */
  private def isExists(e: java.io.IOException): Boolean = e match {
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case _ => e.getMessage != null && e.getMessage.contains("already exists")
  }

  /** Single-winner materialization of `content` at control-file
    * `target`. Returns true iff THIS call's content is the committed
    * one; false on a lost race (some other writer's content is at
    * `target`). Never throws on the race itself.
    *
    *  - rename: write `<tmpPrefix><uuid>` beside `target` (same
    *    FileContext, so the checksum layer leaves no `.crc` sidecar
    *    behind the rename), commit with `Rename.NONE`; collision →
    *    delete the temp, lose.
    *  - cas: `create(target, overwrite = false)` — the conditional
    *    PUT — then READ BACK and verify byte equality. The verify is
    *    what converts a HEAD-then-PUT store's double-create into at
    *    most one confirmed winner; callers therefore embed a
    *    caller-unique token (owner id, UUID, timestamp) in `content`
    *    wherever two contenders could write different payloads.
    */
  def createExclusive(conf: Configuration, target: Path,
      content: Array[Byte], tmpPrefix: String = ".tmp-"): Boolean =
    strategyFor(conf, target.toUri) match {
      case Rename =>
        val fctx = fctxOf(conf, target)
        val tmp = new Path(target.getParent,
          s"$tmpPrefix${java.util.UUID.randomUUID}")
        val out = fctx.create(tmp, java.util.EnumSet.of(
          org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
        try out.write(content) finally out.close()
        try {
          fctx.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          case e: java.io.IOException if isExists(e) =>
            fctx.delete(tmp, false); false
        }
      case Cas =>
        val fs = target.getFileSystem(conf)
        val created =
          try {
            val out = fs.create(target, false)
            try out.write(content) finally out.close()
            true
          } catch {
            case e: java.io.IOException if isExists(e) => false
          }
        if (!created) false
        else
          try java.util.Arrays.equals(readAll(fs, target), content)
          catch { case _: java.io.IOException => false }
    }

  /** Overwrite a small metadata file whose readers tolerate a torn
    * read (the lease heartbeat sidecar: an unparseable beat merely
    * defers to the lease payload stamp). rename: temp +
    * `Rename.OVERWRITE` (atomic swap); cas: a plain overwrite PUT —
    * atomic per object on real object stores.
    */
  def overwriteSmall(conf: Configuration, target: Path,
      content: Array[Byte], tmpPrefix: String = ".tmp-"): Unit =
    strategyFor(conf, target.toUri) match {
      case Rename =>
        val fctx = fctxOf(conf, target)
        val tmp = new Path(target.getParent,
          s"$tmpPrefix${java.util.UUID.randomUUID}")
        val out = fctx.create(tmp, java.util.EnumSet.of(
          org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
        try out.write(content) finally out.close()
        fctx.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      case Cas =>
        val fs = target.getFileSystem(conf)
        val out = fs.create(target, true)
        try out.write(content) finally out.close()
    }

  /** Single-winner commit of the fully-built `tmp` directory as
    * version directory `target`, with `stampName`+`stampContent` as
    * the LAST-visible file (readers gate on the stamp, so the dir is
    * never resolvable before it is complete).
    *
    * Returns true on win. On a lost race (`target` claimed by a
    * concurrent publisher) returns false with `tmp` left INTACT so the
    * caller can retry onto the next version id.
    *
    *  - rename: the stamp is written into `tmp` first, then one
    *    atomic dir rename commits everything at once (the pre-round-16
    *    protocol, unchanged).
    *  - cas: claim `target/_claim` by conditional create (single
    *    winner per version id); MOVE the data files into `target`
    *    (plain per-file renames — non-atomic copy+delete on an object
    *    store is fine here because nothing resolves an unstamped dir);
    *    conditionally create the stamp LAST; drop `tmp`. A crash
    *    mid-move leaves a claimed, unstamped `v=` dir no reader serves
    *    — swept by a later publish once TTL-stale
    *    ([[Artifacts.BuildStrayTtlMs]]).
    */
  def commitDir(conf: Configuration, tmp: Path, target: Path,
      stampName: String, stampContent: Array[Byte]): Boolean =
    strategyFor(conf, target.toUri) match {
      case Rename =>
        val fctx = fctxOf(conf, target)
        val fs = target.getFileSystem(conf)
        val out = fs.create(new Path(tmp, stampName), true)
        try out.write(stampContent) finally out.close()
        try {
          fctx.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          // classify by OUTCOME: target existing now means a
          // concurrent publisher claimed this id — a lost race, not a
          // failure.
          case e: java.io.IOException =>
            if (fs.exists(target)) false else throw e
        }
      case Cas =>
        val fs = target.getFileSystem(conf)
        val claim = new Path(target, "_claim")
        if (!createExclusive(conf, claim,
            java.util.UUID.randomUUID.toString.getBytes("UTF-8")))
          false
        else {
          // Settled listing (round-17 visibility-lag drill): on a
          // store serving stale LISTs, a single listing of the build
          // dir can miss the whole just-renamed file burst — the
          // commit would then stamp an EMPTY version, silent loss.
          // Re-list until two consecutive listings spaced
          // `GRAFT_COMMIT_SETTLE_MS` apart agree; the spacing must
          // exceed the store's staleness bound (two stale listings
          // closer together than the lag can agree on the same wrong
          // view). Default 0 = one listing, zero-cost — today's S3/
          // GCS/ABFS LIST is strongly consistent; the knob exists for
          // legacy-semantics stores. Never-stabilizing listings fail
          // LOUDLY (bounded attempts): loud beats a silent empty
          // commit.
          val settleMs = sys.props.get("graft.commit.settle.ms")
            .orElse(sys.env.get("GRAFT_COMMIT_SETTLE_MS"))
            .map(_.toLong).getOrElse(0L)
          def settledList(from: Path): Array[org.apache.hadoop.fs.FileStatus] = {
            var cur = fs.listStatus(from)
            if (settleMs <= 0L) return cur
            var attempts = 0
            while (attempts < 100) {
              Thread.sleep(settleMs)
              val next = fs.listStatus(from)
              if (next.map(_.getPath.getName).sorted
                  .sameElements(cur.map(_.getPath.getName).sorted))
                return next
              cur = next
              attempts += 1
            }
            sys.error(s"cas commit: listing of $from never stabilized " +
              s"across $settleMs ms windows")
          }
          // recursive move of everything except the stamp (written
          // fresh at the end) and any rename-path stamp already in tmp.
          // An eventually-consistent LIST can serve entries already
          // deleted (round-17 visibility-lag drill: the Spark job
          // committer's swept `_temporary` staging dir appears as a
          // phantom in the build dir's listing) — a vanished entry is
          // skipped, never a crash: the stamp-last contract means
          // nothing is committed until every LIVE object moved.
          def moveTree(from: Path, to: Path): Unit = {
            fs.mkdirs(to)
            settledList(from).foreach { s =>
              val dst = new Path(to, s.getPath.getName)
              try {
                if (s.isDirectory) moveTree(s.getPath, dst)
                else if (s.getPath.getName != stampName)
                  require(fs.rename(s.getPath, dst) || !fs.exists(s.getPath),
                    s"cas commit: move ${s.getPath} -> $dst failed")
              } catch {
                case _: java.io.FileNotFoundException => // phantom listing entry
              }
            }
          }
          moveTree(tmp, target)
          val out = fs.create(new Path(target, stampName), true)
          try out.write(stampContent) finally out.close()
          fs.delete(tmp, true)
          true
        }
    }
}
