package graft

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions

/** The intake-esm checkout whose own sample catalogs and data files the
  * reference-fidelity tests read (values pinned from python parses of
  * those exact files). Where the checkout is absent those tests cancel,
  * naming the missing path; wherever it is present they run unchanged. */
object ReferenceData {
  val root = "/root/reference"
  val catalogs   = s"$root/tests/sample-catalogs"
  val sampleData = s"$root/tests/sample_data"

  /** Cancel the calling test unless every path exists. */
  def assumePresent(paths: String*): Unit = paths.foreach { p =>
    Assertions.assume(Files.exists(Paths.get(p)),
      s"$p absent: intake-esm reference sample data not on this machine")
  }
}
