package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.regexp_replace

/** One canonical form for data-file paths.
  *
  * Paths enter the system from several sources that disagree on scheme:
  * java.nio listings (`/tmp/...`), Hadoop listings (`file:/tmp/...`),
  * Spark's `_metadata.file_path` (`file:///tmp/...`), and user input. A
  * manifest `DataFile.filePath` is compared against all of them (conflict
  * validation, upsert file targeting, position-delete application), so
  * every producer canonicalizes here: local paths are scheme-less
  * absolute; remote URIs keep their scheme, but an EMPTY authority is
  * collapsed (`mockfs:///tmp` and Hadoop Path's `mockfs:/tmp` are the
  * same file). URIs with a real authority (`s3a://bucket/key`,
  * `hdfs://nn:8020/x`) pass through untouched.
  */
object PathUtil {
  private val LocalScheme = "^file:/+".r
  // `scheme://` immediately followed by `/` (or end) = empty authority
  private val EmptyAuthority = "^([A-Za-z][A-Za-z0-9+.\\-]*)://(?=/|$)".r

  def canon(p: String): String =
    EmptyAuthority.replaceFirstIn(LocalScheme.replaceFirstIn(p, "/"), "$1:")

  /** Column form of [[canon]], for RAW path columns (manifest/delete-file
    * `file_path` content — stored unencoded). */
  def canonCol(c: Column): Column =
    regexp_replace(regexp_replace(c, "^file:/+", "/"),
      "^([A-Za-z][A-Za-z0-9+.\\-]*)://(?=/|$)", "$1:")

  /** Canonical form of Spark's `_metadata.file_path`, which is the
    * URI-ENCODED path (space → %20, % → %25 — Spark's SparkPath), unlike
    * every raw-path producer. A file under a partition directory with a
    * space in its value (`_p_prio=4-NOT SPECIFIED/…`) otherwise never
    * matches its manifest path and silently drops out of every
    * (__file)-keyed join — lineage, position-delete apply, upsert file
    * targeting. URI encoding leaves '+' literal, so protecting it as %2B
    * first makes url_decode an exact inverse. */
  def metaPathCol(c: Column): Column =
    canonCol(org.apache.spark.sql.functions.url_decode(
      regexp_replace(c, "\\+", "%2B")))

  /** `path` lives under the table's own data directory ⇒ the LIBRARY wrote
    * it: parquet field-ids are present, stored file_path values are canon
    * form. Externally-registered files (add_files) fail this and resolve
    * by name mapping instead. */
  def underDataRoot(tableLocation: String, path: String): Boolean =
    canon(path).startsWith(canon(s"$tableLocation/data/"))
}
