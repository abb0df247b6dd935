package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cloud-filesystem wiring: a reference-shaped dwh.cfg must yield a session
  * whose hadoopConfiguration can open `s3a://` paths without further setup
  * (the COPY-from-S3 entry point, reference sql_queries.py:122-136 /
  * dwh.cfg:20-22). No network involved — the contract under test is that
  * the right fs.s3a.* keys LAND, which is exactly what a zero-egress
  * sandbox can verify. */
class SessionsCloudSpec extends AnyFunSuite {

  private def cfg(text: String) = GraftConfig.parse(text)

  test("static [AWS] credentials map to fs.s3a keys + the simple provider") {
    val c = Sessions.cloudFsConf(cfg(
      """[AWS]
        |KEY=AKIDEXAMPLE
        |SECRET=wJalrXUtnFEMI
        |""".stripMargin))
    assert(c("fs.s3a.access.key") == "AKIDEXAMPLE")
    assert(c("fs.s3a.secret.key") == "wJalrXUtnFEMI")
    assert(c("fs.s3a.aws.credentials.provider") ==
      "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")
  }

  test("a session TOKEN upgrades the provider to temporary credentials") {
    val c = Sessions.cloudFsConf(cfg(
      "[AWS]\nKEY=k\nSECRET=s\nTOKEN=t\n"))
    assert(c("fs.s3a.session.token") == "t")
    assert(c("fs.s3a.aws.credentials.provider") ==
      "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
  }

  test("no credentials falls back to anonymous access (public source bucket)") {
    val c = Sessions.cloudFsConf(cfg("[S3]\nLOG_DATA='s3://example-logs/log_data'\n"))
    assert(c("fs.s3a.aws.credentials.provider") ==
      "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider")
    assert(!c.contains("fs.s3a.access.key"))
  }

  test("ENDPOINT/REGION and an explicit provider override are honored") {
    val c = Sessions.cloudFsConf(cfg(
      """[AWS]
        |KEY=k
        |SECRET=s
        |ENDPOINT=minio.internal:9000
        |REGION=us-west-2
        |CREDENTIALS_PROVIDER=com.example.CustomProvider
        |""".stripMargin))
    assert(c("fs.s3a.endpoint") == "minio.internal:9000")
    assert(c("fs.s3a.endpoint.region") == "us-west-2")
    assert(c("fs.s3a.aws.credentials.provider") == "com.example.CustomProvider")
  }

  test("[HADOOP] passes any filesystem knob through verbatim and wins ties") {
    val c = Sessions.cloudFsConf(cfg(
      """[AWS]
        |KEY=k
        |SECRET=s
        |[HADOOP]
        |fs.s3a.connection.maximum=96
        |fs.s3a.aws.credentials.provider=com.example.Chain
        |""".stripMargin))
    assert(c("fs.s3a.connection.maximum") == "96")
    assert(c("fs.s3a.aws.credentials.provider") == "com.example.Chain")
  }

  test("[HADOOP] preserves key CASE — Hadoop conf keys are case-sensitive") {
    // configparser would lowercase fs.AbstractFileSystem.s3a.impl, which
    // Hadoop then silently ignores; the passthrough must ship it verbatim.
    val c = Sessions.cloudFsConf(cfg(
      """[HADOOP]
        |fs.AbstractFileSystem.s3a.impl=org.apache.hadoop.fs.s3a.S3A
        |""".stripMargin))
    assert(c.contains("fs.AbstractFileSystem.s3a.impl"),
      s"case-sensitive key must pass through verbatim, got keys ${c.keys}")
  }

  test("PARTIAL [AWS] credentials are a loud config error, not silent anonymous") {
    // SECRET without KEY: proceeding anonymous turns a typo'd KEY line into
    // a confusing 403 at read time. The reference's configparser access
    // raises on a missing option; this mapping must be as loud.
    val e = intercept[IllegalArgumentException] {
      Sessions.cloudFsConf(cfg("[AWS]\nSECRET=s\n"))
    }
    assert(e.getMessage.contains("KEY=MISSING"), e.getMessage)
    intercept[IllegalArgumentException] {
      Sessions.cloudFsConf(cfg("[AWS]\nKEY=k\nTOKEN=t\n")) // KEY without SECRET
    }
    // an explicit provider override takes responsibility for its own creds
    val c = Sessions.cloudFsConf(cfg(
      "[AWS]\nSECRET=s\nCREDENTIALS_PROVIDER=com.example.Chain\n"))
    assert(c("fs.s3a.aws.credentials.provider") == "com.example.Chain")
  }

  test("applyCloudFs lands the configs on a LIVE session's hadoopConfiguration") {
    val spark = TestSpark.spark
    val hc = spark.sparkContext.hadoopConfiguration
    val before = Option(hc.get("fs.s3a.access.key"))
    try {
      Sessions.applyCloudFs(spark, cfg("[AWS]\nKEY=live-key\nSECRET=live-secret\n"))
      assert(hc.get("fs.s3a.access.key") == "live-key")
      assert(hc.get("fs.s3a.secret.key") == "live-secret")
      assert(hc.get("fs.s3a.aws.credentials.provider") ==
        "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")
    } finally {
      // shared-session hygiene: no fake creds leaking into later suites
      before match {
        case Some(v) => hc.set("fs.s3a.access.key", v)
        case None => hc.unset("fs.s3a.access.key")
      }
      hc.unset("fs.s3a.secret.key")
      hc.unset("fs.s3a.aws.credentials.provider")
    }
  }

  test("OPTIONAL s3a smoke: one real read through the dwh.cfg mapping (GRAFT_S3_SMOKE=1)") {
    // The one reference entry-point leg a zero-egress sandbox cannot
    // exercise: an actual `s3a://` open. Gated on GRAFT_S3_SMOKE=1 —
    // canceled (not passed) offline — so on any machine with network and
    // hadoop-aws on the classpath this closes the loop:
    //   GRAFT_S3_SMOKE=1 [GRAFT_S3_PATH=s3a://bucket/key]
    //   [GRAFT_S3_CFG=/path/to/dwh.cfg] sbt "testOnly graft.SessionsCloudSpec"
    // Defaults target the reference's public source bucket via the
    // anonymous-credentials mapping (dwh.cfg with no [AWS] section).
    assume(sys.env.get("GRAFT_S3_SMOKE").contains("1"),
      "GRAFT_S3_SMOKE!=1: skipping the network s3a read")
    val spark = TestSpark.spark
    val cfgText = sys.env.get("GRAFT_S3_CFG")
      .map(p => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8"))
      .getOrElse("[S3]\nLOG_JSONPATH='s3://udacity-dend/log_json_path.json'\n")
    Sessions.applyCloudFs(spark, cfg(cfgText))
    val path = sys.env.getOrElse("GRAFT_S3_PATH",
      "s3a://udacity-dend/log_json_path.json")
    val rows = spark.read.textFile(path).count()
    assert(rows > 0, s"s3a read of $path returned no rows")
  }

  test("the reference's dwh.cfg shape wires end to end through resolveCfg") {
    val tmp = TestSpark.tempDir("dwh").resolve("dwh.cfg")
    java.nio.file.Files.write(tmp,
      """[AWS]
        |KEY=AKIDEXAMPLE
        |SECRET=shhh
        |
        |[S3]
        |LOG_DATA='s3://example-logs/log_data'
        |LOG_JSONPATH='s3://example-logs/log_json_path.json'
        |SONG_DATA='s3://example-logs/song_data'
        |
        |[GRAFT]
        |SF_DIR=/data/in
        |OUT_DIR=s3a://example-out/star
        |""".stripMargin.getBytes("UTF-8"))
    val (sfDir, outDir, _, parsed) =
      graft.etl.RunEtl.resolveCfg(Array("--config", tmp.toString))
    assert(sfDir == "/data/in")
    assert(outDir == "s3a://example-out/star")
    val c = Sessions.cloudFsConf(parsed)
    assert(c("fs.s3a.access.key") == "AKIDEXAMPLE")
    assert(c("fs.s3a.aws.credentials.provider") ==
      "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")
  }
}
