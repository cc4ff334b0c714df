package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.Base64

class IngestCliSpec extends AnyFunSuite {
  private def keyFile(): String = {
    val (pub, _) = Envelope.generateKeyPair()
    val f = Files.createTempDirectory("cli").resolve("key.b64")
    Files.write(f, Base64.getEncoder.encodeToString(pub.getEncoded).getBytes)
    f.toString
  }

  test("parseArgs: full happy path") {
    val kf = keyFile()
    val Right(IngestCli.ParsedArgs(cfg, retries, streaming, _)) = IngestCli.parseArgs(
      Array(
        "--src-dir", "/s", "--out-root", "/o", "--s3-prefix", "p/", "--key-id", "k",
        "--public-key-file", kf, "--progress-file", "/p.txt", "--retries", "5"
      )
    ): @unchecked
    assert(cfg.srcDir == "/s" && cfg.s3Prefix == "p/" && cfg.masterKeyId == "k")
    assert(cfg.publicKeyB64.nonEmpty && retries == 5 && streaming.isEmpty)
  }

  test("parseArgs: missing required options named in the error") {
    val Left(err) = IngestCli.parseArgs(Array("--src-dir", "/s")): @unchecked
    assert(err.contains("--key-id") && err.contains("--progress-file"))
    val Left(err2) = IngestCli.parseArgs(
      Array("--src-dir", "/s", "--key-id", "k", "--progress-file", "/p.txt", "--public-key-file", keyFile())
    ): @unchecked
    assert(err2.contains("--out-root") && err2.contains("--s3-bucket"))
  }

  test("parseArgs: missing key file reported") {
    val Left(err) = IngestCli.parseArgs(
      Array("--src-dir", "/s", "--out-root", "/o", "--key-id", "k",
        "--public-key-file", "/nope/gone.b64", "--progress-file", "/p.txt")
    ): @unchecked
    assert(err.contains("not found"))
  }

  test("parseArgs: stray positional rejected") {
    val Left(err) = IngestCli.parseArgs(Array("oops")): @unchecked
    assert(err.contains("Unexpected"))
  }

  private def baseArgs(kf: String) = Array(
    "--src-dir", "/s", "--out-root", "/o", "--key-id", "k",
    "--public-key-file", kf, "--progress-file", "/p.txt"
  )

  test("parseArgs: malformed --retries is a usage error, not an exception") {
    val Left(err) = IngestCli.parseArgs(baseArgs(keyFile()) ++ Array("--retries", "lots")): @unchecked
    assert(err.contains("--retries"))
    val Left(err2) = IngestCli.parseArgs(baseArgs(keyFile()) ++ Array("--retries", "0")): @unchecked
    assert(err2.contains("--retries"))
  }

  test("parseArgs: --aes-mode eax selects reference-parity cipher; bad mode is a usage error") {
    val Right(IngestCli.ParsedArgs(cfg, _, _, _)) =
      IngestCli.parseArgs(baseArgs(keyFile()) ++ Array("--aes-mode", "eax")): @unchecked
    assert(cfg.aesMode == Envelope.AesMode.Eax)
    val Right(IngestCli.ParsedArgs(cfg2, _, _, _)) = IngestCli.parseArgs(baseArgs(keyFile())): @unchecked
    assert(cfg2.aesMode == Envelope.AesMode.Gcm)
    val Left(err) = IngestCli.parseArgs(baseArgs(keyFile()) ++ Array("--aes-mode", "cbc")): @unchecked
    assert(err.contains("--aes-mode"))
  }

  test("parseArgs: --retries feeds both task retries and store put attempts") {
    val Right(IngestCli.ParsedArgs(cfg, retries, _, _)) =
      IngestCli.parseArgs(baseArgs(keyFile()) ++ Array("--retries", "7")): @unchecked
    assert(retries == 7 && cfg.putRetries == 7)
  }

  test("parseArgs: --streaming selects the streaming drain; exclusive with --v2-sink") {
    val Right(IngestCli.ParsedArgs(_, _, streaming, _)) =
      IngestCli.parseArgs(baseArgs(keyFile()) ++ Array("--streaming", "/ckpt")): @unchecked
    assert(streaming.contains("/ckpt"))
    val Left(err) = IngestCli.parseArgs(
      baseArgs(keyFile()) ++ Array("--streaming", "/ckpt", "--v2-sink")
    ): @unchecked
    assert(err.contains("--v2-sink"))
  }

  test("parseArgs: unknown options, such as the removed --backlog, are usage errors") {
    // a flag in the middle must not swallow the next flag as its value
    for (args <- Seq(baseArgs(keyFile()) :+ "--backlog", Array("--backlog") ++ baseArgs(keyFile()))) {
      val Left(err) = IngestCli.parseArgs(args): @unchecked
      assert(err == "Unknown option: --backlog")
    }
  }

  test("parseArgs: --s3-bucket builds the S3 store from flags + standard AWS env credentials") {
    val env = Map(
      "AWS_ACCESS_KEY_ID" -> "AK", "AWS_SECRET_ACCESS_KEY" -> "SK", "AWS_SESSION_TOKEN" -> "TOK"
    )
    val args = Array(
      "--src-dir", "/s", "--key-id", "k", "--progress-file", "/p.txt", "--public-key-file", keyFile(),
      "--s3-bucket", "b", "--s3-endpoint", "https://s3.local", "--s3-region", "r"
    )
    val Right(IngestCli.ParsedArgs(cfg, _, _, _)) = IngestCli.parseArgs(args, env.get): @unchecked
    assert(cfg.storeFactory == S3ObjectStoreFactory("https://s3.local", "r", "b", "AK", "SK", Some("TOK")))

    val Left(err) = IngestCli.parseArgs(args, _ => None): @unchecked
    assert(err.contains("AWS_ACCESS_KEY_ID"))
    val Left(err2) = IngestCli.parseArgs(args.dropRight(2), env.get): @unchecked
    assert(err2.contains("--s3-region"))
  }

  test("parseArgs: --key-param-name wires the parameter-store provider (reference SSM knob)") {
    val env = Map("AWS_ACCESS_KEY_ID" -> "AK", "AWS_SECRET_ACCESS_KEY" -> "SK")
    val args = Array(
      "--src-dir", "/s", "--key-id", "k", "--progress-file", "/p.txt", "--out-root", "/o",
      "--key-param-name", "/data/key", "--ssm-endpoint", "https://ssm.local", "--s3-region", "r"
    )
    val Right(IngestCli.ParsedArgs(cfg, _, _, _)) = IngestCli.parseArgs(args, env.get): @unchecked
    assert(cfg.keyProvider ==
      Some(ParameterStoreKeyProvider("https://ssm.local", "r", "/data/key", "AK", "SK", None)))

    val Left(err) = IngestCli.parseArgs(
      args ++ Array("--public-key-file", keyFile()), env.get
    ): @unchecked
    assert(err.contains("mutually exclusive"))
  }

  test("LOGLEVEL mapping follows the reference's python-logging vocabulary") {
    assert(IngestCli.logLevelFor("CRITICAL").contains("FATAL"))
    assert(IngestCli.logLevelFor("WARNING").contains("WARN"))
    assert(IngestCli.logLevelFor("INFO").contains("INFO"))
    assert(IngestCli.logLevelFor("DEBUG").contains("DEBUG"))
    assert(IngestCli.logLevelFor("NOTSET").contains("TRACE"))
    assert(IngestCli.logLevelFor("VERBOSE").isEmpty) // unknown -> warn + ignore
  }

  test("master: local mode carries --retries as its task-attempt count; SPARK_MASTER wins") {
    // local[*] alone gives one attempt per task whatever spark.task.maxFailures says
    assert(IngestCli.master(_ => None, 3) == "local[*,3]")
    assert(IngestCli.master(_ => None, 1) == "local[*,1]")
    assert(IngestCli.master(Map("SPARK_MASTER" -> "yarn").get, 5) == "yarn")
  }
}
