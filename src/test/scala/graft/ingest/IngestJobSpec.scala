package graft.ingest

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.Base64
import scala.util.Random

/** Failure-injection store: refuses keys containing "poison". */
final case class PoisonedStoreFactory(root: String) extends ObjectStoreFactory {
  override def create(): ObjectStore = new LocalDirObjectStore(root) {
    override def put(key: String, data: Array[Byte], metadata: Map[String, String]): Unit = {
      if (key.contains("poison")) throw new RuntimeException(s"injected failure for $key")
      super.put(key, data, metadata)
    }
  }
}

/** Failure-injection store: keys containing "expired" fail as if the
  * store's credentials had expired mid-run.
  */
final case class ExpiringStoreFactory(root: String) extends ObjectStoreFactory {
  override def create(): ObjectStore = new LocalDirObjectStore(root) {
    override def put(key: String, data: Array[Byte], metadata: Map[String, String]): Unit = {
      if (key.contains("expired")) throw new TransientCredentialsException(s"token expired at $key")
      super.put(key, data, metadata)
    }
  }
}

/** E2E mirror of the reference's test_hello (tests/test_audit_data_ingest.py:18-26)
  * with the stronger round-trip assertion FIXTURES.md §1.4 calls for.
  */
class IngestJobSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val (pub, priv) = Envelope.generateKeyPair()
  private def pubB64 = Base64.getEncoder.encodeToString(pub.getEncoded)

  /** Build the FIXTURES.md §3 layout: 3 dated dirs x 5 files (incl 0-byte
    * and ~1MB), 1 non-dated dir. Returns (srcDir, file contents by relpath).
    */
  private def makeSource(): (Path, Map[String, Array[Byte]]) = {
    val src = Files.createTempDirectory("audit-src")
    val rnd = new Random(1)
    val days = Seq("2020-10-10", "2020-10-11", "2020-10-12")
    val contents = scala.collection.mutable.Map[String, Array[Byte]]()
    for (day <- days) {
      val d = Files.createDirectories(src.resolve(day))
      for (i <- 1 to 5) {
        val bytes =
          if (i == 4) Array.emptyByteArray // 0-byte file
          else if (i == 5) { val b = new Array[Byte](1024 * 1024); rnd.nextBytes(b); b } // ~1MB
          else s"""{"id": "000$i", "type": "donut", "name": "Cake-$day"}""".getBytes("UTF-8")
        Files.write(d.resolve(s"audit-data-$i.json"), bytes)
        contents(s"$day/audit-data-$i.json") = bytes
      }
    }
    val junk = Files.createDirectories(src.resolve("not-a-date"))
    Files.write(junk.resolve("ignored.txt"), "nope".getBytes)
    (src, contents.toMap)
  }

  private def cfgFor(src: Path, out: Path, progress: Path, prefix: String = "audit/") =
    IngestConfig(
      srcDir = src.toString,
      storeFactory = LocalDirObjectStoreFactory(out.toString),
      s3Prefix = prefix,
      masterKeyId = "test-hsm-key-id",
      publicKeyB64 = pubB64,
      progressFile = progress.toString
    )

  /** Runs `f` and counts the Spark jobs it submits from this thread. */
  private def countingJobs[T](f: => T): (T, Int) = {
    val (out, jobs, _) = countingJobsAndTasks(f)
    (out, jobs)
  }

  /** Runs `f` and counts the Spark jobs it submits from this thread and
    * the tasks their stages plan. A marker job submitted after `f` arrives
    * behind them on the listener bus (one thread, in order), so once it
    * arrives the counts are complete.
    */
  private def countingJobsAndTasks[T](f: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs, tasks = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty("ingest.spec.marker") != null)) drained.countDown()
        else if (props.exists(_.getProperty("ingest.spec.counted") != null)) {
          jobs.incrementAndGet()
          tasks.addAndGet(js.stageInfos.map(_.numTasks).sum)
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("ingest.spec.counted", "1")
      val out = try f finally sc.setLocalProperty("ingest.spec.counted", null)
      sc.setLocalProperty("ingest.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("ingest.spec.marker", null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      (out, jobs.get(), tasks.get())
    } finally sc.removeSparkListener(listener)
  }

  test("run: the whole 3-day backlog lands in ONE Spark job after ONE listing, watermark committed day-ordered") {
    val (src, contents) = makeSource()
    val out = Files.createTempDirectory("backlog-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)

    val listingsBefore = AuditSource.listDayCalls.get()
    val (summary, jobs) = countingJobs(IngestJob.run(spark, cfg))
    val listings = AuditSource.listDayCalls.get() - listingsBefore

    assert(summary.days.map(_.day.toString) == Seq("2020-10-10", "2020-10-11", "2020-10-12"))
    assert(summary.filesOk == 15)
    assert(Watermark.read(cfg.progressFile).contains(LocalDate.parse("2020-10-12")))
    assert(jobs == 1, s"run scheduled $jobs Spark job(s); expected exactly 1")
    assert(listings == 1, s"run listed the day directories $listings times; expected exactly 1")

    // layout + content, incl. the 0-byte file
    val store = cfg.storeFactory.create()
    val keys = store.listKeys("audit/")
    assert(keys.size == 15)
    assert(keys.contains("audit/2020-10-10/audit-data-4.json.gz.enc"))
    val k = "audit/2020-10-11/audit-data-1.json.gz.enc"
    val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv))
    assert(plain.sameElements(contents("2020-10-11/audit-data-1.json")))
  }

  test("run: a backlog of more files than cores lands in ONE job of fewer tasks than files, cores to 2x cores") {
    val cores = spark.sparkContext.defaultParallelism
    val src = Files.createTempDirectory("audit-src-wide")
    val days = Seq("2020-11-01", "2020-11-02", "2020-11-03")
    val files = 3 * cores + 1
    val rnd = new Random(3)
    for (i <- 0 until files) {
      val bytes = new Array[Byte](64 * 1024)
      rnd.nextBytes(bytes)
      Files.write(Files.createDirectories(src.resolve(days(i % days.size))).resolve(f"f-$i%03d.bin"), bytes)
    }
    val out = Files.createTempDirectory("wide-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)

    val (summary, jobs, tasks) = countingJobsAndTasks(IngestJob.run(spark, cfg))

    assert(summary.filesOk == files)
    assert(jobs == 1, s"run scheduled $jobs Spark job(s); expected exactly 1")
    assert(tasks < files, s"$tasks task(s) for $files files: one task per file")
    assert(tasks <= 2 * cores, s"$tasks task(s) on $cores cores")
    assert(tasks >= cores, s"$tasks task(s) leave some of $cores cores idle")
    assert(cfg.storeFactory.create().listKeys("audit/").size == files)
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-11-03")))
  }

  test("run: a day created during the first key fetch is neither read nor committed; the next run lands it") {
    val (src, _) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val late = src.resolve("2020-10-13")
    val fetches = new java.util.concurrent.atomic.AtomicInteger(0)
    val landing = new KeyProvider {
      override def wrappingKeyB64(): String = {
        if (fetches.incrementAndGet() == 1)
          Files.write(Files.createDirectories(late).resolve("late.json"), "late".getBytes)
        pubB64
      }
    }
    val cfg = cfgFor(src, out, progress).copy(keyProvider = Some(landing))
    val store = cfg.storeFactory.create()

    val first = IngestJob.run(spark, cfg)
    assert(first.days.map(_.day.toString) == Seq("2020-10-10", "2020-10-11", "2020-10-12"))
    assert(first.filesOk == 15)
    assert(store.listKeys("audit/2020-10-13/").isEmpty)
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-12")))

    val second = IngestJob.run(spark, cfg)
    assert(second.days.map(_.day.toString) == Seq("2020-10-13"))
    assert(store.listKeys("audit/2020-10-13/") == Seq("audit/2020-10-13/late.json.gz.enc"))
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-13")))
  }

  test("run: a dirty middle day holds the watermark at the last clean day; re-run completes") {
    val (src, _) = makeSource()
    Files.write(src.resolve("2020-10-11").resolve("poison.json"), "bad".getBytes)
    val out = Files.createTempDirectory("backlog-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val bad = cfgFor(src, out, progress).copy(storeFactory = PoisonedStoreFactory(out.toString))

    val e = intercept[RuntimeException](IngestJob.run(spark, bad))
    assert(e.getMessage.contains("2020-10-11"))
    // commit stopped at the clean day BEFORE the dirty one
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-10")))
    // one-job divergence from the reference's loop (documented): later
    // days were attempted — their objects exist but stay unwatermarked
    val store = bad.storeFactory.create()
    assert(store.listKeys("audit/2020-10-12/").size == 5)

    // healthy store, same progress file: days 2+3 re-run, backlog completes
    val good = cfgFor(src, out, progress)
    val summary2 = IngestJob.run(spark, good)
    assert(summary2.days.map(_.day.toString) == Seq("2020-10-11", "2020-10-12"))
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-12")))
    assert(store.listKeys("audit/2020-10-11/").size == 6) // 5 fixtures + poison.json
  }

  test("run: expired credentials on one day's put commit no day of the run; the CLI sees a transient error") {
    val (src, _) = makeSource()
    Files.write(src.resolve("2020-10-11").resolve("expired.json"), "x".getBytes)
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    Watermark.commit(progress.toString, LocalDate.parse("2020-10-09"))
    val cfg = cfgFor(src, out, progress).copy(storeFactory = ExpiringStoreFactory(out.toString))

    val e = intercept[Exception](IngestJob.run(spark, cfg))
    assert(IngestCli.isTransient(e), s"not recognised as transient: $e")
    // even the clean day before the failing one stays uncommitted
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-09")))
  }

  test("run: no pending day means no Spark job and no key fetch") {
    val (src, _) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    Watermark.commit(progress.toString, LocalDate.parse("2020-10-12"))
    val fetches = new java.util.concurrent.atomic.AtomicInteger(0)
    val counting = new KeyProvider {
      override def wrappingKeyB64(): String = { fetches.incrementAndGet(); pubB64 }
    }
    val cfg = cfgFor(src, out, progress).copy(keyProvider = Some(counting))

    val listingsBefore = AuditSource.listDayCalls.get()
    val (summary, jobs) = countingJobs(IngestJob.run(spark, cfg))
    assert(summary.days.isEmpty)
    assert(jobs == 0, s"an empty backlog scheduled $jobs Spark job(s)")
    assert(fetches.get() == 0)
    assert(AuditSource.listDayCalls.get() - listingsBefore == 1)
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-12")))
  }

  test("distributed read-back: IngestReader decrypts every landed object to the original bytes") {
    val (src, contents) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)
    IngestJob.run(spark, cfg)

    val privB64 = java.util.Base64.getEncoder.encodeToString(priv.getEncoded)
    val rows = IngestReader
      .read(spark, out.toString, "audit/", privB64)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .toMap
    assert(rows.size == 15)
    for ((rel, orig) <- contents)
      assert(rows(s"audit/$rel.gz.enc").sameElements(orig), s"read-back mismatch for $rel")
  }

  test("full run: all days processed, key layout + metadata + round-trip, watermark committed") {
    val (src, contents) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)

    val summary = IngestJob.run(spark, cfg)

    assert(summary.days.size == 3) // non-dated dir skipped
    assert(summary.filesOk == 15)
    val store = cfg.storeFactory.create()
    val keys = store.listKeys("audit/")
    assert(keys.size == 15)
    // Key layout {prefix}{day}/{basename}.gz.enc — no inserted separator (ref :173)
    assert(keys.contains("audit/2020-10-10/audit-data-1.json.gz.enc"))
    assert(keys.forall(_.endsWith(".gz.enc")))

    // Every object: exactly 3 metadata keys; decrypt+inflate == original bytes
    for ((rel, orig) <- contents) {
      val key = s"audit/$rel.gz.enc"
      val md = store.getMetadata(key)
      assert(md.keySet == Set("iv", "ciphertext", "datakeyencryptionkeyid"), key)
      assert(md("datakeyencryptionkeyid") == "test-hsm-key-id")
      val plain = Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(key), md), priv))
      assert(plain.sameElements(orig), s"round-trip mismatch for $key")
    }

    // Watermark = last completed day
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-12")))
  }

  test("pre-seeded watermark at middle day: only strictly newer days processed") {
    val (src, _) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    Watermark.commit(progress.toString, LocalDate.parse("2020-10-11"))

    val summary = IngestJob.run(spark, cfgFor(src, out, progress))

    assert(summary.days.map(_.day.toString) == Seq("2020-10-12")) // strict >
    val keys = LocalDirObjectStoreFactory(out.toString).create().listKeys("")
    assert(keys.size == 5)
    assert(keys.forall(_.startsWith("audit/2020-10-12/")))
  }

  test("failure isolation: poisoned file fails its day, siblings still attempted, no commit") {
    val (src, _) = makeSource()
    // poison one file of day 1
    Files.write(src.resolve("2020-10-10").resolve("poison.json"), "bad".getBytes)
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress).copy(storeFactory = PoisonedStoreFactory(out.toString))

    val e = intercept[RuntimeException](IngestJob.run(spark, cfg))
    assert(e.getMessage.contains("2020-10-10"))
    assert(e.getMessage.contains("poison"))

    // all 5 healthy siblings of the failed day were still uploaded (best-effort, ref :96-104)
    val keys = LocalDirObjectStoreFactory(out.toString).create().listKeys("audit/2020-10-10/")
    assert(keys.size == 5)
    // watermark never advanced — the day did not commit (ref :65-68)
    assert(Watermark.read(progress.toString).isEmpty)
  }

  test("idempotent re-run after failure: fixed source completes remaining days (at-least-once)") {
    val (src, _) = makeSource()
    val poison = src.resolve("2020-10-11").resolve("poison.json")
    Files.write(poison, "bad".getBytes)
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val bad = cfgFor(src, out, progress).copy(storeFactory = PoisonedStoreFactory(out.toString))

    intercept[RuntimeException](IngestJob.run(spark, bad))
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-10"))) // day 1 committed

    Files.delete(poison)
    val summary = IngestJob.run(spark, cfgFor(src, out, progress))
    assert(summary.days.map(_.day.toString) == Seq("2020-10-11", "2020-10-12"))
    assert(Watermark.read(progress.toString).contains(LocalDate.parse("2020-10-12")))
    assert(LocalDirObjectStoreFactory(out.toString).create().listKeys("").size == 15)
  }

  test("EAX mode end-to-end: objects decrypt via AES-EAX with 16-byte nonce (reference parity)") {
    val (src, contents) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress).copy(aesMode = Envelope.AesMode.Eax)

    val summary = IngestJob.run(spark, cfg)
    assert(summary.filesOk == 15)

    val store = cfg.storeFactory.create()
    for ((rel, orig) <- contents) {
      val key = s"audit/$rel.gz.enc"
      val md = store.getMetadata(key)
      assert(Base64.getDecoder.decode(md("iv")).length == Envelope.EaxNonceBytes, key)
      val plain = Zlib.decompress(
        Envelope.decrypt(EncryptedObject(store.get(key), md), priv, Envelope.AesMode.Eax)
      )
      assert(plain.sameElements(orig), s"EAX round-trip mismatch for $key")
    }
  }

  test("nested files with identical basenames get distinct keys (no silent overwrite)") {
    val src = Files.createTempDirectory("audit-src-nested")
    val day = Files.createDirectories(src.resolve("2021-03-03"))
    Files.write(day.resolve("a.log"), "top".getBytes)
    Files.write(Files.createDirectories(day.resolve("sub1")).resolve("a.log"), "one".getBytes)
    Files.write(Files.createDirectories(day.resolve("sub2")).resolve("a.log"), "two".getBytes)
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(src, out, progress)

    val summary = IngestJob.run(spark, cfg)
    assert(summary.filesOk == 3)

    val store = cfg.storeFactory.create()
    val keys = store.listKeys("audit/2021-03-03/")
    assert(keys.toSet == Set(
      "audit/2021-03-03/a.log.gz.enc",
      "audit/2021-03-03/sub1/a.log.gz.enc",
      "audit/2021-03-03/sub2/a.log.gz.enc"
    ))
    val got = keys.map { k =>
      new String(Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), priv)))
    }
    assert(got.sorted == Seq("one", "top", "two"))
  }

  test("key rotation: keyProvider is consulted per day and later days use the rotated key") {
    val (src, _) = makeSource()
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    // A fresh keypair on every fetch: the n-th fetch's key must wrap the
    // n-th day, which pins one fetch per pending day, in day order.
    val pairs = Seq((pub, priv)) ++ Seq.fill(2)(Envelope.generateKeyPair())
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val rotating = new KeyProvider {
      override def wrappingKeyB64(): String = {
        val n = calls.incrementAndGet()
        Base64.getEncoder.encodeToString(pairs(math.min(n, pairs.size) - 1)._1.getEncoded)
      }
    }
    val cfg = cfgFor(src, out, progress).copy(keyProvider = Some(rotating))
    IngestJob.run(spark, cfg)
    assert(calls.get() == 3) // one fetch per day
    val store = cfg.storeFactory.create()
    def unwrapsWith(k: String, key: java.security.PrivateKey): Boolean =
      scala.util.Try(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), key)).isSuccess
    // day n decrypts with the n-th fetched key and with no other
    for ((day, n) <- Seq("2020-10-10", "2020-10-11", "2020-10-12").zipWithIndex) {
      val k = s"audit/$day/audit-data-1.json.gz.enc"
      Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(k), store.getMetadata(k)), pairs(n)._2))
      for (m <- pairs.indices if m != n) assert(!unwrapsWith(k, pairs(m)._2), s"$day opened with key ${m + 1}")
    }
  }

  test("missing source dir raises (ref failure-path test)") {
    val out = Files.createTempDirectory("audit-out")
    val progress = Files.createTempDirectory("wm").resolve("progress.txt")
    val cfg = cfgFor(Files.createTempDirectory("gone").resolve("nope"), out, progress)
    assertThrows[Exception](IngestJob.run(spark, cfg))
  }
}
