package graft.sources

/** Shared scheme dispatch for the byte-level sources: bare paths are LOCAL
  * files (fsspec semantics — never resolved against fs.defaultFS, which is
  * hdfs on a real cluster), and schemes with no installed Hadoop FileSystem
  * refuse with one consistent connector-boundary error. One implementation
  * so a Hadoop message change or a bare-path semantics fix lands once. */
private[graft] object FsPaths {

  // a URI scheme prefix — matches "file:///x", "s3a://b/k" AND Hadoop's
  // single-slash "file:/x" rendering, but NOT bare paths whose first
  // segment merely contains a colon ("t12:00.nc" — common in time-stamped
  // climate filenames): the colon must be followed by a slash
  private val schemePrefix = "^[A-Za-z][A-Za-z0-9+.-]*:/".r

  def hadoopPath(url: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      if (schemePrefix.findPrefixOf(url).isDefined) url
      else "file://" + new java.io.File(url).getAbsolutePath)

  /** Resolve the FileSystem for a path, unwrapping the local CHECKSUM
    * filesystem to its raw form: the checksum layer builds a RELATIVE
    * `.name.crc` sibling Path, which Hadoop cannot represent when the
    * filename contains a colon (common in time-stamped climate files), and
    * no source here writes local .crc files to verify anyway. */
  def fileSystemFor(p: org.apache.hadoop.fs.Path,
                    conf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(conf) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other                                   => other
    }

  /** FileSystem.get raises "No FileSystem for scheme ..." (an
    * UnsupportedFileSystemException or plain IOException,
    * version-dependent) for schemes with no installed connector. */
  def isNoFilesystem(e: java.io.IOException): Boolean =
    Option(e.getMessage).exists(_.toLowerCase.contains("no filesystem for scheme"))

  /** Per-call storage options (fs credentials, endpoints — cat.py:238-280)
    * overlaid on the session Hadoop conf, so container readers honor the
    * same options the Spark-source paths pass via DataFrameReader.options.
    * graft.* control keys ride along harmlessly (nothing reads them as
    * Hadoop config). */
  def confWith(base: org.apache.hadoop.conf.Configuration,
               options: Map[String, String]): org.apache.hadoop.conf.Configuration =
    if (options.isEmpty) base
    else {
      val c = new org.apache.hadoop.conf.Configuration(base)
      options.foreach { case (k, v) => c.set(k, v) }
      c
    }

  /** [[confWith]] as a broadcast, for task closures. A captured
    * `SerializableConfiguration` is ~110 KB that every task of every stage
    * over the frame deserializes again (~10 ms each, and a group's decode
    * chain carries one per asset); a broadcast deserializes once per
    * executor and ships as a handle. */
  def broadcastConf(spark: org.apache.spark.sql.SparkSession, options: Map[String, String])
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] =
    spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      confWith(spark.sparkContext.hadoopConfiguration, options)))

  def connectorRefusal(url: String, cause: Throwable): Nothing =
    throw new UnsupportedOperationException(
      s"byte-range access for '${url.takeWhile(_ != ':')}://' urls is behind the " +
        "connector boundary: no seekable Hadoop FileSystem for the scheme is " +
        "installed (object stores need their connector jar, e.g. s3a:// + hadoop-aws)",
      cause)
}
