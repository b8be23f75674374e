package graft

import java.nio.file.{Files, Path}

/** Catalogs the suites write themselves, shaped like intake-esm's sample
  * catalogs (FIXTURES.md §1). */
object CatalogFixtures {

  /** A 5-row CSV catalog shaped like intake-esm's
    * `multi-variable-catalog` (FIXTURES.md §1.2): the §1.1 CESM schema
    * with `variable` cells written as Python tuple literals and a
    * relative `catalog_file`. Writes `multi-variable-catalog.{json,csv}`
    * into `dir` and returns the json path. */
  def multiVariable(dir: Path): Path = {
    val vars = Seq(
      "('SHF', 'REGION_MASK', 'ANGLE', 'DXU', 'KMT', 'NO2', 'O2')",
      "('SHF', 'NO2', 'O2')",
      "('SHF', 'REGION_MASK', 'ANGLE')",
      "('NO2', 'O2')",
      "('KMT', 'DXU')")
    val rows = Seq(
      ("CTRL", "b.e11.B1850C5CN.f09_g16.005", 0, "040001-049912"),
      ("CTRL", "b.e11.B1850C5CN.f09_g16.005", 0, "050001-059912"),
      ("20C", "b.e11.B20TRC5CNBDRD.f09_g16.001", 1, "192001-200512"),
      ("20C", "b.e11.B20TRC5CNBDRD.f09_g16.002", 2, "192001-200512"),
      ("RCP85", "b.e11.BRCP85C5CNBDRD.f09_g16.001", 1, "200601-208012"))
    val csv = ("experiment,case,component,stream,variable,member_id,path,time_range" +:
      rows.zip(vars).map { case ((exp, cs, member, tr), v) =>
        s"""$exp,$cs,ocn,pop.h,"$v",$member,./sample_data/$cs.pop.h.$tr.nc,$tr"""
      }).mkString("", "\n", "\n")
    Files.writeString(dir.resolve("multi-variable-catalog.csv"), csv)
    val json = dir.resolve("multi-variable-catalog.json")
    Files.writeString(json,
      """{"esmcat_version": "0.1.0", "id": "sample-multi-variable-cesm1-lens",
        |"catalog_file": "multi-variable-catalog.csv",
        |"attributes": [],
        |"assets": {"column_name": "path", "format": "netcdf"},
        |"aggregation_control": {"variable_column_name": "variable",
        |  "groupby_attrs": ["component", "experiment", "stream"],
        |  "aggregations": [{"type": "union", "attribute_name": "variable"},
        |    {"type": "join_existing", "attribute_name": "time_range",
        |     "options": {"dim": "time"}}]}}""".stripMargin)
    json
  }

  /** A 4-row catalog shaped like intake-esm's `access-columns-with-lists`
    * (FIXTURES.md §1.2 companion): ACCESS-OM2 sea-ice and ocean output
    * with `variable` cells written as Python list literals, its asset
    * table a GZIPPED csv. Writes `access-columns-with-lists.json` and
    * `access-columns-with-lists.csv.gz` into `dir`; returns the json path. */
  def accessColumnsWithLists(dir: Path): Path = {
    val rows = Seq(
      ("ice", "1mon", "['aice_m', 'hi_m']", "output000/ice/OUTPUT/iceh.1900-01.nc"),
      ("ice", "1mon", "['hs_m', 'tsfc_m']", "output001/ice/OUTPUT/iceh.1900-02.nc"),
      ("ocean", "1mon", "['temp', 'salt']", "output000/ocean/ocean_month.nc"),
      ("ocean", "1day", "['sst']", "output000/ocean/ocean_daily.nc"))
    val csv = ("realm,frequency,variable,path" +: rows.map { case (realm, freq, v, p) =>
      s"""$realm,$freq,"$v",/g/data/access-om2/1deg_jra55_iaf/$p"""
    }).mkString("", "\n", "\n")
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("access-columns-with-lists.csv.gz")))
    try gz.write(csv.getBytes("UTF-8")) finally gz.close()
    val json = dir.resolve("access-columns-with-lists.json")
    Files.writeString(json,
      """{"esmcat_version": "0.1.0", "id": "access-columns-with-lists",
        |"catalog_file": "access-columns-with-lists.csv.gz",
        |"attributes": [],
        |"assets": {"column_name": "path", "format": "netcdf"},
        |"aggregation_control": {"variable_column_name": "variable",
        |  "groupby_attrs": ["realm", "frequency"],
        |  "aggregations": [{"type": "union", "attribute_name": "variable"}]}}""".stripMargin)
    json
  }

  /** A CSV catalog over `assets` — (source_id, experiment_id, variable,
    * path) rows of parquet assets — grouped by source and experiment, with
    * a python-literal `realm` list per asset (`['atmos']` for tasmax,
    * `['atmos', 'land']` otherwise). Writes `gcm-assets.{json,csv}` into
    * `dir` and returns the json path. */
  def gcmAssets(dir: Path, assets: Seq[(String, String, String, String)]): Path = {
    val csv = ("source_id,experiment_id,variable,realm,path" +: assets.map { case (src, exp, v, p) =>
      val realm = if (v == "tasmax") "['atmos']" else "['atmos', 'land']"
      s"""$src,$exp,$v,"$realm",$p"""
    }).mkString("", "\n", "\n")
    Files.writeString(dir.resolve("gcm-assets.csv"), csv)
    val json = dir.resolve("gcm-assets.json")
    Files.writeString(json,
      """{"esmcat_version": "0.1.0", "id": "gcm-assets",
        |"catalog_file": "gcm-assets.csv",
        |"attributes": [],
        |"assets": {"column_name": "path", "format": "parquet"},
        |"aggregation_control": {"variable_column_name": "variable",
        |  "groupby_attrs": ["source_id", "experiment_id"],
        |  "aggregations": []}}""".stripMargin)
    json
  }
}
