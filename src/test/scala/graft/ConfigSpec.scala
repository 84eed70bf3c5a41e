package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.TableRef
import graft.naming.VariableNormalizer
import graft.profiling.Profiler

/** B1/B19/B26-B27 coverage: table-ref parsing, the false-array JSON
  * sidecar loader (both formats), and the variable normalizer. */
class ConfigSpec extends AnyFunSuite {

  test("TableRef parses project.dataset.table and rejects others (B1)") {
    val r = TableRef.parse("proj.FlatConnect.module1_v2_JP")
    assert(r == TableRef("proj", "FlatConnect", "module1_v2_JP"))
    assert(r.configKey == "FlatConnect.module1_v2_JP")
    intercept[IllegalArgumentException](TableRef.parse("only.two"))
    intercept[IllegalArgumentException](TableRef.parse("a.b.c.d"))
  }

  test("false-array JSON loader handles wrapped and bare formats (B19)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg")
    val wrapped = dir.resolve("wrapped.json")
    java.nio.file.Files.writeString(wrapped,
      """{"_metadata": {"n": 2}, "concept_id_pairs": [["123456789", "123456789"], ["234567891", "345678912"]]}""")
    assert(Profiler.loadFalseArrayReference(wrapped.toString) ==
      Seq(("123456789", "123456789"), ("234567891", "345678912")))
    val bare = dir.resolve("bare.json")
    java.nio.file.Files.writeString(bare, """[["111111111", "111111111"]]""")
    assert(Profiler.loadFalseArrayReference(bare.toString) == Seq(("111111111", "111111111")))
  }

  test("embedded pairs match the reference sidecar on disk (B19)") {
    val fromFile = Profiler.loadFalseArrayReference(
      "/root/reference/reference/false_array_columns.json")
    assert(fromFile == graft.config.Constants.FalseArrayConceptIdPairs)
    assert(fromFile.size == 75)
  }

  test("variable normalizer replaces mapped tokens and validates (B26/B27)") {
    assert(VariableNormalizer.fixImpureVariable(
      "D_259089008_SIBCANC3O_962468280", Map("SIBCANC3O" -> "123456789")) ==
      "D_259089008_D_123456789_962468280")
    // NB: the reference's code (not its docstring) skips names containing
    // any d_<9-digit> CID — `D_259089008_1_SIBCANC3O` passes through even
    // though SIBCANC3O is mapped (core/variable_normalizer.py:99-103);
    // names with upper-case runs and NO CID are fixed.
    val fixed = VariableNormalizer.fixAllVariables(
      Seq("D_259089008_1_SIBCANC3O", "SIBCANC3O_1", "D_123456789"),
      Map("SIBCANC3O" -> "123456789"))
    assert(fixed == Seq("D_259089008_1_SIBCANC3O", "D_123456789_1", "D_123456789"))
    val e = intercept[IllegalArgumentException](
      VariableNormalizer.fixAllVariables(Seq("D_1_UNMAPPED"), Map.empty))
    assert(e.getMessage.contains("UNMAPPED"))
  }

  test("request validation (B28)") {
    import graft.api.PipelineApi
    assert(PipelineApi.extractSourceAndDestination(Some("a"), Some("b")) == (Seq("a"), "b"))
    assert(PipelineApi.extractSourceAndDestination(Some(Seq("a", "c")), Some("b")) ==
      (Seq("a", "c"), "b"))
    for ((s, d) <- Seq(Some("a") -> None, None -> Some("b"), Some("") -> Some("b"),
        Some("a") -> Some(""), Some(Seq()) -> Some("b")))
      intercept[IllegalArgumentException](PipelineApi.extractSourceAndDestination(s, d))
  }
}
