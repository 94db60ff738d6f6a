package perfbench

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row

/** Reference answers kept on disk between runs of one build. The
  * directory is named after a hash of the sources, so a changed engine
  * computes its references afresh; within one build the reference for
  * the same SQL text is the same, so later runs skip recomputing it.
  */
final class RefCache(dir: Path) {
  Files.createDirectories(dir)

  def apply(key: String)(compute: => Seq[Row]): Seq[Row] = {
    val f = dir.resolve(RefCache.digest(key))
    if (Files.exists(f)) RefCache.read(f)
    else {
      val rows = compute
      val tmp = Files.createTempFile(dir, "ref", ".tmp")
      RefCache.write(tmp, rows)
      Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      rows
    }
  }
}

object RefCache {
  def digest(key: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  def write(f: Path, rows: Seq[Row]): Unit = {
    val out = new ObjectOutputStream(Files.newOutputStream(f))
    try out.writeObject(rows.toVector) finally out.close()
  }

  def read(f: Path): Seq[Row] = {
    val in = new ObjectInputStream(Files.newInputStream(f))
    try in.readObject().asInstanceOf[Vector[Row]] finally in.close()
  }
}

/** Answers written to disk between an op and its check, so the heap
  * measured after the timed phase holds no answers the benchmark keeps.
  */
final class Parking(dir: Path) {
  Files.createDirectories(dir)
  private var n = 0

  def park(rows: Seq[Row]): () => Seq[Row] =
    if (rows.isEmpty) () => Nil
    else {
      n += 1
      val f = dir.resolve(s"answer-$n")
      RefCache.write(f, rows)
      () => try RefCache.read(f) finally Files.delete(f)
    }
}
