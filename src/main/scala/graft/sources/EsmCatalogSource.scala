package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, PrunedScan, RelationProvider}
import org.apache.spark.sql.types.StructType

import graft.catalog.CatalogReader

/** The asset table of an ESM catalog descriptor as a relation:
  *
  * {{{ spark.read.format("esmcat").load("/path/to/catalog.json") }}}
  *
  * is the table `EsmCatalog.open` holds (reference entry point:
  * intake.open_esm_datastore, core.py:89-153). `load()` reads it through
  * [[CatalogReader.load]] — csv/csv.gz, part-file directories, parquet,
  * json, inline `catalog_dict`, http and `file:` URIs, python-literal
  * iterable columns decoded to `array<string>` — so a table under the
  * driver-collect cap is read once, at `load()`, and later actions scan the
  * held rows. The scan prunes unprojected columns; Spark evaluates filters
  * and aggregates over its output. Every reader option but `path` is a
  * storage option (Hadoop filesystem keys, reader options, the http fetch
  * byte cap), as `EsmCatalog.open(…, storageOptions)` takes them.
  */
final class EsmCatalogSource extends RelationProvider with DataSourceRegister {
  override def shortName(): String = "esmcat"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("esmcat: .load(<descriptor.json>) path required"))
    // every other option is a storage option, as `EsmCatalog.open` takes
    // them; Spark hands the options over case-insensitively, lower-cased
    // on iteration, so read the keys as the caller spelled them
    val options = parameters match {
      case m: CaseInsensitiveMap[String @unchecked] => m.originalMap
      case m => m
    }
    val storageOptions = options.filter { case (k, _) => !k.equalsIgnoreCase("path") }
    new EsmCatalogRelation(sqlContext,
      CatalogReader.load(sqlContext.sparkSession, path, storageOptions)._2.df)
  }
}

/** A loaded catalog table `df` as a column-pruned scan. */
final class EsmCatalogRelation(override val sqlContext: SQLContext, df: DataFrame)
    extends BaseRelation with PrunedScan {
  override def schema: StructType = df.schema

  override def buildScan(requiredColumns: Array[String]): RDD[Row] =
    df.select(requiredColumns.map(c => col(s"`${c.replace("`", "``")}`")).toIndexedSeq: _*).rdd
}
