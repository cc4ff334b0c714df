package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.slf4j.LoggerFactory

/** CLI entry point — the reference's argparse `__main__` block
  * (audit_data_ingest.py:235-313) re-expressed. Obsolete knobs are
  * dropped by design: `--tmp` (no local staging), `--processes` (Spark
  * task parallelism). The reference's `--hsm-key-param-name` SSM fetch
  * (:200-204) is `--key-param-name` + `--ssm-endpoint` here
  * ([[ParameterStoreKeyProvider]], fetched once per pending day); a static
  * `--public-key-file` remains the zero-egress alternative.
  *
  * Exit codes: 0 success OR expected-transient failure (warn-and-exit so
  * the scheduler retries, mirroring the reference's ExpiredTokenException
  * handling, :303-308), 2 usage error, 3 source missing, 1 any other
  * failure.
  */
object IngestCli {
  private val log = LoggerFactory.getLogger(getClass)

  private val usage =
    """Usage: graft.ingest.IngestCli
      |  --src-dir <dir>            dated day directories root (required)
      |  --out-root <dir>           local object store root (or use --s3-bucket)
      |  --s3-bucket <name>         S3 store instead of --out-root; needs --s3-endpoint,
      |                             --s3-region, and credentials in the standard
      |                             AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY
      |                             (/ AWS_SESSION_TOKEN) environment variables
      |  --s3-endpoint <url>        e.g. https://s3.<region>.amazonaws.com
      |  --s3-region <region>       signing region for the S3 store
      |  --s3-prefix <prefix>       key prefix, concatenated WITHOUT separator (default "")
      |  --key-id <id>              datakeyencryptionkeyid metadata value (required)
      |  --public-key-file <path>   file holding the b64 X.509 RSA public key
      |  --key-param-name <name>    fetch the key from an SSM-shaped parameter store
      |                             instead (once per day); needs --ssm-endpoint,
      |                             --s3-region, and the same AWS_* credentials
      |  --ssm-endpoint <url>       parameter-store endpoint for --key-param-name
      |  --progress-file <path>     watermark file (required)
      |  --streaming <checkpoint>   run as ONE Structured Streaming AvailableNow drain over the
      |                             graft-audit source (one day per micro-batch, checkpoint =
      |                             watermark, restart-resume) instead of the batch run
      |  --kafka-root <dir>         with --streaming: drain Kafka-wire-format log segments
      |                             (graft-kafkalog source) instead of the dated-dir drop;
      |                             the checkpointed offset map is the watermark and keys are
      |                             {prefix}{day}/{topic}-{partition}-{offset}.gz.enc
      |  --aes-mode <gcm|eax>       payload cipher: gcm (hardened default) or eax (reference parity)
      |  --retries <n>              store-put attempts AND Spark task attempts (default 3):
      |                             the default master is local[*,<n>]; a SPARK_MASTER
      |                             cluster master gets spark.task.maxFailures=<n>
      |
      |Without --streaming, every pending day is ingested in one Spark job (one key fetch
      |per day) and the watermark is committed day by day, oldest first, up to the first
      |day with a failed file.
      |""".stripMargin

  /** Parsed CLI: config plus the engine mode selectors. */
  final case class ParsedArgs(
      cfg: IngestConfig,
      retries: Int,
      streamingCheckpoint: Option[String],
      kafkaRoot: Option[String] = None
  )

  private val options = Set(
    "src-dir", "out-root", "s3-bucket", "s3-endpoint", "s3-region", "s3-prefix", "key-id",
    "public-key-file", "key-param-name", "ssm-endpoint", "progress-file", "streaming", "kafka-root",
    "aes-mode", "retries"
  )

  def parseArgs(args: Array[String], env: String => Option[String] = sys.env.get): Either[String, ParsedArgs] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case flag if flag.startsWith("--") && !options(flag.stripPrefix("--")) =>
          return Left(s"Unknown option: $flag")
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          m(flag.stripPrefix("--")) = args(i + 1); i += 2
        case other => return Left(s"Unexpected argument: $other")
      }
    }
    val required = Seq("src-dir", "key-id", "progress-file")
    val missing = required.filterNot(m.contains)
    if (missing.nonEmpty) return Left(s"Missing required options: ${missing.map("--" + _).mkString(", ")}")

    def awsCreds(what: String): Either[String, (String, String, Option[String])] =
      (env("AWS_ACCESS_KEY_ID"), env("AWS_SECRET_ACCESS_KEY")) match {
        case (Some(ak), Some(sk)) => Right((ak, sk, env("AWS_SESSION_TOKEN")))
        case _ => Left(s"$what needs AWS_ACCESS_KEY_ID and AWS_SECRET_ACCESS_KEY in the environment")
      }

    // Sink store: local dir or S3.
    val storeFactory: ObjectStoreFactory = (m.get("out-root"), m.get("s3-bucket")) match {
      case (Some(_), Some(_)) => return Left("--out-root and --s3-bucket are mutually exclusive")
      case (Some(root), None) => LocalDirObjectStoreFactory(root)
      case (None, Some(bucket)) =>
        val endpoint = m.getOrElse("s3-endpoint", return Left("--s3-bucket requires --s3-endpoint"))
        val region = m.getOrElse("s3-region", return Left("--s3-bucket requires --s3-region"))
        awsCreds("--s3-bucket") match {
          case Left(err) => return Left(err)
          case Right((ak, sk, tok)) => S3ObjectStoreFactory(endpoint, region, bucket, ak, sk, tok)
        }
      case (None, None) => return Left("One of --out-root or --s3-bucket is required")
    }

    // Wrapping key: static file or per-day parameter-store fetch.
    val (pubB64, keyProvider): (String, Option[KeyProvider]) =
      (m.get("public-key-file"), m.get("key-param-name")) match {
        case (Some(_), Some(_)) => return Left("--public-key-file and --key-param-name are mutually exclusive")
        case (Some(path), None) =>
          val keyPath = Paths.get(path)
          if (!Files.exists(keyPath)) return Left(s"Public key file not found: $keyPath")
          (new String(Files.readAllBytes(keyPath), StandardCharsets.UTF_8).trim, None)
        case (None, Some(param)) =>
          val endpoint = m.getOrElse("ssm-endpoint", return Left("--key-param-name requires --ssm-endpoint"))
          val region = m.getOrElse("s3-region", return Left("--key-param-name requires --s3-region"))
          awsCreds("--key-param-name") match {
            case Left(err) => return Left(err)
            case Right((ak, sk, tok)) =>
              ("", Some(ParameterStoreKeyProvider(endpoint, region, param, ak, sk, tok)))
          }
        case (None, None) => return Left("One of --public-key-file or --key-param-name is required")
      }

    val retriesRaw = m.getOrElse("retries", "3")
    val retries = scala.util.Try(retriesRaw.toInt).toOption match {
      case Some(n) if n >= 1 => n
      case _ => return Left(s"--retries must be a positive integer, got: $retriesRaw")
    }
    val aesMode = m.getOrElse("aes-mode", "gcm") match {
      case "gcm" => Envelope.AesMode.Gcm
      case "eax" => Envelope.AesMode.Eax
      case other => return Left(s"--aes-mode must be gcm or eax, got: $other")
    }
    val streaming = m.get("streaming")
    if (streaming.exists(_.isEmpty)) return Left("--streaming requires a checkpoint directory")
    val kafkaRoot = m.get("kafka-root")
    if (kafkaRoot.isDefined && streaming.isEmpty)
      return Left("--kafka-root requires --streaming <checkpoint>")
    Right(
      ParsedArgs(
        IngestConfig(
          srcDir = m("src-dir"),
          storeFactory = storeFactory,
          s3Prefix = m.getOrElse("s3-prefix", ""),
          masterKeyId = m("key-id"),
          publicKeyB64 = pubB64,
          progressFile = m("progress-file"),
          aesMode = aesMode,
          putRetries = retries,
          keyProvider = keyProvider
        ),
        retries,
        streaming,
        kafkaRoot
      )
    )
  }

  /** True when the cause chain contains the expected-transient class
    * (Spark wraps task failures in SparkException layers).
    */
  private[ingest] def isTransient(e: Throwable): Boolean =
    Iterator
      .iterate(e)(_.getCause)
      .takeWhile(_ != null)
      .take(10)
      .exists(_.isInstanceOf[TransientCredentialsException])

  /** `SPARK_MASTER` when set (a cluster master reads `spark.task.maxFailures`),
    * else every local core with `retries` task attempts: local mode ignores
    * `spark.task.maxFailures` unless the master string carries it (`local[N,F]`).
    */
  private[ingest] def master(env: String => Option[String], retries: Int): String =
    env("SPARK_MASTER").getOrElse(s"local[*,$retries]")

  /** Python-logging level names (the reference's LOGLEVEL vocabulary) to
    * Spark/log4j levels. CRITICAL→FATAL and WARNING→WARN are the two
    * renames; NOTSET has no analog and maps to the most verbose.
    */
  private[ingest] def logLevelFor(pyLevel: String): Option[String] = pyLevel match {
    case "CRITICAL" | "FATAL" => Some("FATAL")
    case "ERROR"              => Some("ERROR")
    case "WARNING" | "WARN"   => Some("WARN")
    case "INFO"               => Some("INFO")
    case "DEBUG"              => Some("DEBUG")
    case "NOTSET" | "TRACE"   => Some("TRACE")
    case _                    => None
  }

  def main(args: Array[String]): Unit = {
    parseArgs(args) match {
      case Left(err) =>
        System.err.println(err)
        System.err.println(usage)
        sys.exit(2)
      case Right(ParsedArgs(cfg, retries, streamingCkpt, kafkaRoot)) =>
        val spark = graft.SessionTuning
          .local(Runtime.getRuntime.availableProcessors)
          .master(master(sys.env.get, retries))
          .appName("graft-ingest")
          .config("spark.task.maxFailures", retries.toString)
          .getOrCreate()
        // The reference configures verbosity from the LOGLEVEL env var
        // (audit_data_ingest.py:22); same contract here, mapped onto the
        // Spark context's log level. Unset -> leave the deploy's default.
        sys.env.get("LOGLEVEL").map(_.trim.toUpperCase).filter(_.nonEmpty).foreach { lvl =>
          logLevelFor(lvl) match {
            case Some(spkLvl) => spark.sparkContext.setLogLevel(spkLvl)
            case None => log.warn(s"Ignoring unknown LOGLEVEL '$lvl'")
          }
        }
        try {
          val summary =
            if (streamingCkpt.isDefined && kafkaRoot.isDefined) {
              val s = IngestStream.runKafkaAvailableNow(spark, cfg, kafkaRoot.get, streamingCkpt.get)
              s"kafka-log streaming drain complete: ${s.records} record(s), ${s.tombstones} tombstone(s) " +
                s"skipped in ${s.batches} batch(es) (checkpoint ${streamingCkpt.get})"
            } else if (streamingCkpt.isDefined) {
              IngestStream.runAvailableNow(spark, cfg, streamingCkpt.get)
              s"streaming drain complete (checkpoint ${streamingCkpt.get})"
            } else {
              val s = IngestJob.run(spark, cfg)
              s"${s.days.size} day(s), ${s.filesOk} file(s)"
            }
          log.info(s"Ingest complete: $summary")
        } catch {
          case e: Throwable if isTransient(e) =>
            // Expected transient (credentials expired): warn and exit CLEAN
            // so the scheduler's next cadence retries (ref :303-308).
            log.warn(s"Transient credential failure, exiting for scheduler retry: ${e.getMessage}")
          case e: java.io.FileNotFoundException =>
            log.error(s"Source missing: ${e.getMessage}")
            sys.exit(3)
          case e: Throwable =>
            log.error(s"Ingest failed: ${e.getMessage}", e)
            sys.exit(1)
        } finally spark.stop()
    }
  }
}
