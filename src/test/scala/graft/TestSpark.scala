package graft

import org.apache.spark.sql.SparkSession

/** Shared store-test helpers (one copy for both index-store suites). */
object StoreTestUtil {
  /** Byte-intactness snapshot of a store dir: relative path → (size,
    * mtime) for every regular file — the poisoned-rebuild specs compare
    * two of these to pin "the old store was not touched". */
  def fileSnapshot(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    val walk = java.nio.file.Files.walk(root)
    try walk.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p))
        out(root.relativize(p).toString) =
          (java.nio.file.Files.size(p),
           java.nio.file.Files.getLastModifiedTime(p).toMillis)
    } finally walk.close()
    out.toMap
  }
}

/** One shared local session for all suites: `local[4]`, 4 shuffle
  * partitions, whatever the host's core count. */
object TestSpark {
  lazy val spark: SparkSession = graft.harness.GraftSession.local(4, 4)
}
