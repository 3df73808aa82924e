package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** THE COMMIT-POINT RULE. Every small control file the table formats keep
  * (pointers, log records, commit markers, manifests, sidecars) is read
  * and written through this object, and which primitive a site uses is
  * decided by one question: who can see the file while it is written?
  *
  *  - [[write]]: nobody. The file lives in a dir no reader resolves yet —
  *    a staged version dir before its pointer flip or its claim, a stage
  *    dir before its rename. A crash leaves a torn file only where nothing
  *    reads; the commit that would expose it never happens.
  *  - [[claim]]: the file IS the commit point — a fresh slot (a log
  *    record, an OCC marker, a manifest, a first-writer-wins record) that
  *    readers see the instant it exists. Put-if-absent with the content
  *    visible in the SAME step, or a concurrent reader can observe a
  *    claimed-but-empty record: a torn commit. `FileSystem.create(overwrite
  *    = false)` + `write` is not that — the slot exists before its body
  *    lands (a thread-parallel OCC finalizer once read an empty marker and
  *    died on `new Path("")`). Local filesystems write the body to a
  *    uniquely-named `.claim-*.tmp` and hard-link it into the slot: link
  *    creation is atomic and FAILS if the slot exists, which is at once the
  *    compare-and-swap and the content publication (a rename would not do:
  *    POSIX rename silently overwrites the destination). The winner then
  *    links the tmp's `.crc` beside the slot, so a claimed file is
  *    verified on read like every other control file. HDFS
  *    `create(overwrite = false)` is atomic under the namenode lease; object
  *    stores bind their conditional put (S3 If-None-Match, GCS
  *    if-generation-match, ABFS ETag) at the same place.
  *  - [[replace]]: the file is a live, mutable pointer (a table or catalog
  *    `_ptr`, a branch head, `_last_checkpoint`, `_policy`, a `_crc`
  *    restamp). The new content goes to a sibling `.<name>.tmp-<uuid>`,
  *    then the old file is deleted and the tmp renamed into place (rename
  *    over an existing file is not portable across Hadoop filesystems). A
  *    reader never sees a partial pointer: the rename happens only after
  *    the tmp is closed. A crash leaves one of two states:
  *     1. the tmp written, the pointer intact — readers see the old
  *        content; the tmp is inert debris;
  *     2. the pointer deleted, the tmp complete — readers see NO file, and
  *        each pointer's reader owns a rule for that instant:
  *        `VersionedTable` and `SnapshotCatalog` fall back to the highest
  *        complete version / manifest, `Branching` adopts the complete tmp
  *        ([[replacing]]), an absent `_last_checkpoint` means "replay from
  *        the log", an absent `_crc` re-enrolls, and `_policy` refuses to
  *        guess (a replacement beside an absent policy fails loudly).
  *  - [[read]]: to EOF (a single `read()` may legally return short on
  *    object stores, and a truncated "00" would parse as version 0); None
  *    when the file does not exist.
  */
object MetaFile {

  private val ReplaceTmp = """\.(.+)\.tmp-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""".r

  /** The file's whole content, or None when it does not exist. */
  def read(fs: FileSystem, p: Path): Option[String] =
    (try Some(fs.open(p)) catch { case _: java.io.FileNotFoundException => None }).map { in =>
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }

  /** Create-or-truncate `p` with `text`, for a file in a dir no reader can
    * see yet.
    */
  def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Publish `bytes` at `p` iff `p` does not exist. True = this caller won
    * the slot; false = someone else holds it, with their content fully
    * visible.
    */
  def claim(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean = fs match {
    case _: LocalFileSystem | _: RawLocalFileSystem =>
      // the tmp is written through `fs`, so a checksummed filesystem gives
      // it a `.crc`; the winner links that beside the slot, and the slot is
      // read back verified like every other control file
      def local(f: Path) = java.nio.file.Paths.get(f.toUri.getPath)
      val tmp = new Path(p.getParent, s".claim-${java.util.UUID.randomUUID().toString.take(12)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      try {
        val won = try { java.nio.file.Files.createLink(local(p), local(tmp)); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        fs match {
          case c: LocalFileSystem if won && c.exists(c.getChecksumFile(tmp)) =>
            val crc = local(c.getChecksumFile(p))
            java.nio.file.Files.deleteIfExists(crc) // stale: no file held the slot
            java.nio.file.Files.createLink(crc, local(c.getChecksumFile(tmp)))
          case _ =>
        }
        won
      } finally { fs.delete(tmp, false); () }
    case _ =>
      // HDFS: create(overwrite=false) is atomic under the namenode lease.
      // Object stores: bind the store's conditional put here.
      try {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch { case _: java.io.IOException if fs.exists(p) => false }
  }

  /** Swap `p`'s content for `text`: tmp, delete, rename. */
  def replace(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    write(fs, tmp, text)
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"MetaFile.replace: rename failed: $tmp -> $p")
  }

  /** The name a [[replace]] tmp stands in for (`.<name>.tmp-<uuid>` →
    * `name`), for a reader whose rule for crash state 2 is to adopt the
    * complete replacement. None for any other name.
    */
  private[ops] def replacing(fileName: String): Option[String] = fileName match {
    case ReplaceTmp(name) => Some(name)
    case _ => None
  }
}
