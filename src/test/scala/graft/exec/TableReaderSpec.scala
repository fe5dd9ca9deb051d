package graft.exec

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** [[Mor]] is the engine's one table reader: every read of a table's
  * files takes the `TableMetadata` and goes through [[Mor.readDataWith]],
  * [[Mor.dataFrame]] or [[Mor.equalityDeleteKeys]], which derive the read
  * schema, field-id addressing, partition spec and retired stats names
  * from the table. Examples are demos over plain parquet and exempt from
  * the parquet pin. */
class TableReaderSpec extends AnyFunSuite {

  test("in src/main only Mor reads manifest paths as parquet") {
    val offenders = SourceScan.offenders(SourceScan.Main) { (file, lines, i) =>
      val f = file.toString
      f != "graft/exec/Mor.scala" && !f.startsWith("graft/examples/") &&
        lines(i).contains(".parquet(") && lines(i).contains(".path")
    }
    assert(offenders.isEmpty,
      "read a table's files with Mor.readDataWith / Mor.dataFrame, which take the table:\n" +
        offenders.mkString("\n"))
  }

  test("field-id resolution is scoped by GraftScan, equality keys are read by Mor") {
    val offenders = SourceScan.offenders(SourceScan.Main) { (file, lines, i) =>
      val f = file.toString
      (lines(i).contains("fieldId.read.enabled") && f != "graft/exec/GraftFileIndex.scala") ||
        (lines(i).contains("equalityDeleteGroups(") && f != "graft/exec/Mor.scala")
    }
    assert(offenders.isEmpty,
      "read by field id through Mor.readDataWith (GraftScan.relation's byFieldId) and read " +
        "equality-delete keys with Mor.equalityDeleteKeys:\n" + offenders.mkString("\n"))
  }
}
