package graft

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{FileSystemException, Files, Path, StandardCopyOption, StandardOpenOption}

/** The only two ways a result becomes visible on disk. Pool builds,
  * state and merge-sink versions, CSV outputs, `_state_format` stamps
  * and commit-log manifests are each written under a tmp name next to
  * their destination and published by one atomic rename, so a reader
  * sees the old result or the new one, never a torn mix. A failed write
  * leaves the destination untouched and removes its tmp. */
object Publish {

  /** Tmp file, content forced, rename onto `target`, then the parent dir
    * forced — a rename is durable only once its parent is synced (POSIX);
    * best effort, as some platforms cannot open a directory. */
  def file(target: Path, content: Array[Byte]): Unit = {
    val parent = target.toAbsolutePath.getParent
    Files.createDirectories(parent)
    val tmp = Files.createTempFile(parent, s"_tmp_${target.getFileName}.", ".tmp")
    try {
      val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.wrap(content)
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    try {
      val dch = FileChannel.open(parent, StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    } catch { case _: java.io.IOException => }
  }

  /** `write` fills a fresh tmp dir next to `dest`, which is then renamed
    * onto `dest`. If `dest` exists, a content-addressed caller
    * (`replace = false`, pools) keeps it and gets false back; a replayed
    * version (`replace = true`) replaces it by delete-then-rename, so a
    * crash between the two loses that version until replay rewrites it. */
  def dir(dest: Path, replace: Boolean)(write: Path => Unit): Boolean = {
    val parent = dest.toAbsolutePath.getParent
    Files.createDirectories(parent)
    val tmp = Files.createTempDirectory(parent, s"_tmp_${dest.getFileName}.")
    try {
      write(tmp)
      if (replace) deleteTree(dest)
      try { Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE); true }
      catch { case _: FileSystemException if !replace && Files.exists(dest) => false }
    } finally deleteTree(tmp)
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally all.close()
    }
}
