package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftConfig, TestSpark}

class RunEtlConfigSpec extends AnyFunSuite {

  // Byte-for-byte the shapes in the reference's dwh.cfg: empty values,
  // trailing space after a section header, quoted S3 URIs.
  // ${" "}: a REAL trailing space after [DWH], kept visible (and safe from
  // editor trailing-whitespace stripping) via interpolation.
  private val dwhCfg =
    s"""[DB]
      |HOST=
      |DB_NAME=
      |DB_PORT=5439
      |
      |[DWH]${" "}
      |DWH_CLUSTER_TYPE=multi-node
      |DWH_NUM_NODES=4
      |
      |[S3]
      |LOG_DATA='s3://example-logs/log_data'
      |LOG_JSONPATH='s3://example-logs/log_json_path.json'
      |
      |[GRAFT]
      |SF_DIR=/root/testdata/sf0.001
      |OUT_DIR=/tmp/etl_out
      |CPUS=8
      |""".stripMargin

  test("parses a dwh.cfg-shaped file: sections, empty values, quoted URIs") {
    val cfg = GraftConfig.parse(dwhCfg)
    assert(cfg.get("DB", "HOST").isEmpty, "empty value reads as absent")
    assert(cfg.get("DB", "DB_PORT").contains("5439"))
    assert(cfg.get("DWH", "DWH_NUM_NODES").contains("4"), "trailing-space header parses")
    assert(cfg.get("S3", "LOG_DATA").contains("s3://example-logs/log_data"), "quotes stripped")
    assert(cfg.get("s3", "LOG_JSONPATH").contains("s3://example-logs/log_json_path.json"),
      "section lookup is case-insensitive")
    assert(cfg.get("S3", "SONG_DATA").isEmpty)
    assert(cfg.getOr("GRAFT", "CPUS", "4") == "8")
  }

  test("configparser quirk surface: key case-folding, pre-section error, section-case determinism") {
    val cfg = GraftConfig.parse(dwhCfg)
    // keys are case-insensitive (configparser optionxform lowercases)
    assert(cfg.get("DB", "db_port").contains("5439"))
    assert(cfg.get("DB", "Db_Port").contains("5439"))
    // a key before any [section] is a loud error (MissingSectionHeaderError),
    // not a silent "" section
    val e = intercept[IllegalArgumentException] {
      GraftConfig.parse("ORPHAN=1\n[DB]\nHOST=x\n")
    }
    assert(e.getMessage.contains("line 1"))
    // sections that differ only by case stay distinct (configparser
    // semantics); exact lookup wins, and a case-insensitive fallback picks
    // the lexicographically-first name — deterministically
    val dual = GraftConfig.parse("[DWH]\nK=upper\n[dwh]\nK=lower\n")
    assert(dual.get("DWH", "k").contains("upper"))
    assert(dual.get("dwh", "k").contains("lower"))
    assert(dual.get("Dwh", "k").contains("upper"), "fallback: 'DWH' < 'dwh' lexicographically")
  }

  test("RunEtl resolution: config supplies defaults, argv overrides") {
    val path = TestSpark.tempDir("dwh").resolve("dwh.cfg")
    Files.writeString(path, dwhCfg)
    // env pinned empty: these assertions exercise the config/argv legs and
    // must not flip when the harness itself exports SPARK_GRAFT_CPUS.
    val noEnv = Map.empty[String, String]
    // config only
    assert(RunEtl.resolve(Array("--config", path.toString), noEnv) ==
      (("/root/testdata/sf0.001", "/tmp/etl_out", "8")))
    // positional argv wins over config
    assert(RunEtl.resolve(Array("--config", path.toString, "/data/sf1", "/tmp/other"), noEnv) ==
      (("/data/sf1", "/tmp/other", "8")))
    // bare argv still works (round-2 calling convention unchanged)
    assert(RunEtl.resolve(Array("/data/sf1", "/tmp/other"), noEnv) ==
      (("/data/sf1", "/tmp/other", "4")))
    // documented precedence: SPARK_GRAFT_CPUS beats [GRAFT] CPUS
    assert(RunEtl.resolve(Array("--config", path.toString),
      Map("SPARK_GRAFT_CPUS" -> "16")) ==
      (("/root/testdata/sf0.001", "/tmp/etl_out", "16")))
    // nothing → loud usage error
    intercept[RuntimeException] { RunEtl.resolve(Array.empty, noEnv) }
  }
}
