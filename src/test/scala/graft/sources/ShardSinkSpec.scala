package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ShardSinkSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private def freshDir(): String =
    Files.createTempDirectory("graft-shards").toString

  test("round-trip: every document survives the jsonl.gz container byte-for-byte") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents")
    TrainingShards.write(docs, out, maxDocsPerShard = 64)
    val back = TrainingShards.read(spark, out, Some(docs.schema))
    assert(back.count() == docs.count())
    // anti-join both ways: nothing lost, nothing invented
    val cols = docs.columns.map(col)
    assert(docs.except(back.select(cols: _*)).count() == 0)
    assert(back.select(cols: _*).except(docs).count() == 0)
  }

  test("shards respect the document target and the manifest accounts for every row") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents")
    val n = docs.count()
    TrainingShards.write(docs, out, maxDocsPerShard = 64)
    val manifest = new String(Files.readAllBytes(Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val docCounts = """"docs": (\d+)""".r.findAllMatchIn(manifest).map(_.group(1).toLong).toSeq
    // first match is total_docs? no — totals use total_docs; these are per-shard
    assert(docCounts.nonEmpty)
    assert(docCounts.forall(_ <= 64), s"a shard exceeded the doc target: $docCounts")
    assert(docCounts.sum == n, s"manifest docs ${docCounts.sum} != corpus $n")
    val totalDocs = """"total_docs": (\d+)""".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
    assert(totalDocs.contains(n))
    // every manifest shard exists on disk; no stray part files beyond them
    val files = """"file": "([^"]+)"""".r.findAllMatchIn(manifest).map(_.group(1)).toSet
    assert(files.forall(f => Files.exists(Paths.get(out, f))))
    val onDisk = new java.io.File(out).list().filter(_.endsWith(".jsonl.gz")).toSet
    assert(onDisk == files, s"disk/manifest drift: disk=$onDisk manifest=$files")
  }

  test("the byte target rolls shards even when the doc target is loose") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents").limit(50).repartition(1)
    TrainingShards.write(docs, out, maxDocsPerShard = 1000000, maxShardBytes = 2048)
    val manifest = new String(Files.readAllBytes(Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val rawBytes = """"raw_bytes": (\d+)""".r.findAllMatchIn(manifest).map(_.group(1).toLong).toSeq
    assert(rawBytes.length > 1, "expected multiple shards from the byte target")
    // every line is <2048 in this corpus, so no shard may exceed the bound
    assert(rawBytes.forall(_ <= 2048), s"a shard exceeded the byte bound: $rawBytes")
  }

  test("compact rewrites a fragmented directory into balanced shards, byte-faithfully") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents").limit(200)
    // fragment: 8-way parallel write with a tiny doc target → many small shards
    TrainingShards.write(docs.repartition(8), out, maxDocsPerShard = 8)
    // the LAYOUT's shard count is the manifest's, not the directory
    // listing's — superseded files stay on disk until vacuum
    def shardCount() = {
      val m = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
      """"file": "([^"]+)"""".r.findAllMatchIn(m).length
    }
    val fragmented = shardCount()
    assert(fragmented >= 25, s"fixture not fragmented enough: $fragmented")
    TrainingShards.compact(spark, out, maxDocsPerShard = 64)
    val compacted = shardCount()
    assert(compacted < fragmented / 4, s"compaction barely helped: $fragmented -> $compacted")
    // the corpus is unchanged row-for-row
    val back = TrainingShards.read(spark, out, Some(docs.schema))
    assert(back.count() == 200)
    val cols = docs.columns.map(col)
    assert(docs.except(back.select(cols: _*)).count() == 0)
    assert(back.select(cols: _*).except(docs).count() == 0)
    // manifest lists only the compacted layout; every shard respects
    // the new doc target. The superseded files are RETAINED on disk
    // (snapshot-protected for time-travel / mid-batch tailers) until
    // vacuum — the lakehouse contract — and vacuum(retain=1) then
    // reconciles disk to exactly the manifest.
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val listed = """"file": "([^"]+)"""".r.findAllMatchIn(manifest).map(_.group(1)).toSet
    def onDisk() = new java.io.File(out).list().filter(_.endsWith(".jsonl.gz")).toSet
    assert(listed.subsetOf(onDisk()), "a manifest-listed shard is missing from disk")
    assert((onDisk() -- listed).nonEmpty,
      "superseded files should be retained until vacuum (time-travel contract)")
    TrainingShards.vacuum(spark, out, retainGenerations = 1)
    assert(onDisk() == listed, s"vacuum(1) left stale shards: ${onDisk() -- listed}")
    val perShard = """"docs": (\d+)""".r.findAllMatchIn(manifest).map(_.group(1).toLong).toSeq
    assert(perShard.sum == 200 && perShard.forall(_ <= 64), s"doc accounting broke: $perShard")
  }

  test("streaming epoch re-commit replaces the epoch's prior shards by token prefix") {
    val out = freshDir()
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val w = new ShardStreamingWrite(out, "tok", 100, 1 << 20, "gzip", conf)
    def shard(name: String, docs: Long): ShardInfo = {
      // content irrelevant to commit logic; a real file lets the
      // best-effort delete be observed
      java.nio.file.Files.write(java.nio.file.Paths.get(out, name), Array[Byte](1, 2, 3))
      ShardInfo(name, docs, 3L)
    }
    // epoch 1 first attempt (2 tasks), then epoch 2
    w.commit(1L, Array(ShardsWritten(Seq(
      shard("part-tok-e1-00000-1.000.jsonl.gz", 10),
      shard("part-tok-e1-00001-2.000.jsonl.gz", 10)))))
    w.commit(2L, Array(ShardsWritten(Seq(shard("part-tok-e2-00000-3.000.jsonl.gz", 5)))))
    // driver restart replays epoch 1 with FRESH task ids (new names)
    w.commit(1L, Array(ShardsWritten(Seq(
      shard("part-tok-e1-00000-7.000.jsonl.gz", 10),
      shard("part-tok-e1-00001-8.000.jsonl.gz", 10)))))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val files = """"file": "([^"]+)"""".r.findAllMatchIn(manifest).map(_.group(1)).toSet
    assert(files == Set(
      "part-tok-e1-00000-7.000.jsonl.gz", "part-tok-e1-00001-8.000.jsonl.gz",
      "part-tok-e2-00000-3.000.jsonl.gz"),
      s"replayed epoch must replace its own shards and leave other epochs alone: $files")
    val docTotal = """"docs": (\d+)""".r.findAllMatchIn(manifest).map(_.group(1).toLong).sum
    assert(docTotal == 25L, s"epoch-1 documents double-counted: $docTotal")
    // superseded first-attempt files are retained (snapshot-protected)
    // until vacuum; vacuum(retain=1) reconciles disk to the manifest
    def onDisk() = new java.io.File(out).list().filter(_.endsWith(".jsonl.gz")).toSet
    assert((onDisk() -- files).nonEmpty,
      "replayed epoch's superseded shards should be retained until vacuum")
    TrainingShards.vacuum(spark, out, retainGenerations = 1)
    assert(onDisk() == files, s"vacuum(1) left superseded epoch shards: ${onDisk() -- files}")
  }

  test("a pinned jobToken makes re-running the same logical write idempotent (replace, not append)") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents").limit(100)
    // first attempt: 2 tasks; replay: 3 tasks — different task ids, so
    // different shard FILE NAMES (the across-restart reality); only the
    // shared token can identify the replay
    TrainingShards.write(docs.repartition(2), out, maxDocsPerShard = 32,
      jobToken = Some("fb000001"))
    TrainingShards.write(docs.repartition(3), out, maxDocsPerShard = 32,
      jobToken = Some("fb000001"))
    val back = TrainingShards.read(spark, out, Some(docs.schema))
    assert(back.count() == 100, "a replayed pinned-token write must replace, not double-count")
    assert(back.select("doc_id").distinct().count() == 100)
    // superseded first-attempt files are retained until vacuum, then
    // reclaimed (the manifest-trusting reader never served them)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val listed = """"file": "([^"]+)"""".r.findAllMatchIn(manifest).map(_.group(1)).toSet
    def onDisk() = new java.io.File(out).list().filter(_.endsWith(".jsonl.gz")).toSet
    assert((onDisk() -- listed).nonEmpty,
      "pinned-token replay's superseded shards should be retained until vacuum")
    TrainingShards.vacuum(spark, out, retainGenerations = 1)
    assert(onDisk() == listed, s"vacuum(1) left superseded shards: ${onDisk() -- listed}")
    // a DIFFERENT token still appends
    TrainingShards.write(docs.repartition(2), out, maxDocsPerShard = 32,
      jobToken = Some("fb000002"))
    assert(TrainingShards.read(spark, out, Some(docs.schema)).count() == 200)
  }

  test("a jobToken the sink would have to normalize is REJECTED, never silently collided") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents").limit(10)
    // each of these normalizes/truncates onto a token another logical
    // job could legitimately hold — a silent collision would let one
    // job's commit delete the other's shards under replace-on-commit
    val collisionProne = Seq(
      "job-1",                        // strips to "job1"
      "x" * 25,                       // truncates onto the 24-char prefix
      "",                             // empty after any normalization
      "tok with spaces")
    collisionProne.foreach { tok =>
      val e = intercept[Exception] {
        TrainingShards.write(docs, out, maxDocsPerShard = 32, jobToken = Some(tok))
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("alphanumeric")),
        s"token '$tok' was not rejected with the validation message: $e")
    }
    // nothing landed: the directory holds no committed write
    assert(!new java.io.File(out, "_MANIFEST.json").exists(),
      "a rejected token must not leave a committed manifest")
  }

  test("append merges the prior manifest: two writes, one manifest accounting for both") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    TrainingShards.write(half1, out, maxDocsPerShard = 64)
    // a dir whose manifest carries a .crc, as Hadoop's checksummed local
    // FS writes it: the append's publish must not leave that checksum
    // stale for the checksummed reads below
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val manifestPath = new org.apache.hadoop.fs.Path(out, "_MANIFEST.json")
    val first = Files.readAllBytes(Paths.get(out, "_MANIFEST.json"))
    val rewrite = local.create(manifestPath, true)
    try rewrite.write(first) finally rewrite.close()
    assert(Files.exists(Paths.get(out, "._MANIFEST.json.crc")))
    TrainingShards.write(half2, out, maxDocsPerShard = 64)
    val in = local.open(manifestPath)
    try assert(in.readAllBytes().sameElements(Files.readAllBytes(Paths.get(out, "_MANIFEST.json"))))
    finally in.close()
    val manifest = new String(Files.readAllBytes(Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val totalDocs = """"total_docs": (\d+)""".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
    assert(totalDocs.contains(docs.count()), s"append undercounted: $totalDocs")
    val back = TrainingShards.read(spark, out, Some(docs.schema))
    assert(back.count() == docs.count())
    assert(docs.except(back.select(docs.columns.map(col): _*)).count() == 0)
  }

  test("a failed manifest publish throws; the next append still serves every earlier shard") {
    graft.FaultFs.bind(spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft-shards-fault")
    val out = graft.FaultFs.uri(local)
    val docs = graft.ops.Tables.t(spark, dir, "documents").select("doc_id", "text")
    def ids(from: Int, until: Int) = docs.filter(col("doc_id") >= from && col("doc_id") < until)
    TrainingShards.write(ids(0, 10), out)
    val e = intercept[Exception] {
      graft.FaultFs.failingRenamesTo(local.resolve("_MANIFEST.json"))(TrainingShards.write(ids(10, 20), out))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("_MANIFEST.json")), e.toString)
    val litter = local.toFile.list().filter(n => n.startsWith(".") && n.endsWith(".tmp"))
    assert(litter.isEmpty, s"the failed publish left its temp file: ${litter.toSeq}")
    TrainingShards.write(ids(20, 30), out)
    val served = TrainingShards.read(spark, out, Some(docs.schema)).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(served == ((0L until 10L) ++ (20L until 30L)), s"served $served")
  }

  test("overwrite truncates: stale shards removed, manifest holds only the new write") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents")
    TrainingShards.write(docs, out, maxDocsPerShard = 64)
    val before = new java.io.File(out).list().count(_.endsWith(".jsonl.gz"))
    assert(before > 1)
    val tiny = docs.limit(3)
    TrainingShards.write(tiny, out, maxDocsPerShard = 64, mode = "overwrite")
    val manifest = new String(Files.readAllBytes(Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val totalDocs = """"total_docs": (\d+)""".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
    assert(totalDocs.contains(3L), s"overwrite manifest still counts stale shards: $totalDocs")
    // the truncated layout's files are retained (time-travel readable)
    // until vacuum(1) reconciles disk to the manifest
    val files = """"file": "([^"]+)"""".r.findAllMatchIn(manifest).map(_.group(1)).toSet
    def onDisk() = new java.io.File(out).list().filter(_.endsWith(".jsonl.gz")).toSet
    assert((onDisk() -- files).nonEmpty,
      "truncated layout's shards should be retained until vacuum")
    assert(TrainingShards.read(spark, out, Some(docs.schema)).count() == 3)
    TrainingShards.vacuum(spark, out, retainGenerations = 1)
    assert(onDisk() == files, s"vacuum(1) left truncated-layout shards: ${onDisk() -- files}")
    assert(TrainingShards.read(spark, out, Some(docs.schema)).count() == 3)
  }

  test("read trusts the manifest: a planted orphan part file is never served as data") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents")
    TrainingShards.write(docs, out, maxDocsPerShard = 64)
    val n = docs.count()
    // an orphan from a crashed attempt whose best-effort delete lost the
    // race: valid container bytes, name matching the shard pattern
    val orphanLines = """{"doc_id": 999999, "text": "ORPHAN", "lang": "xx", "source": "bad", "n_chars": 6}"""
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(out, "part-deadbeefdeadbeef-00099-999.000.jsonl.gz")))
    gz.write((orphanLines + "\n").getBytes("UTF-8")); gz.finish(); gz.close()
    val back = TrainingShards.read(spark, out, Some(docs.schema))
    assert(back.count() == n, "orphan rows leaked into a manifest-trusting read")
    assert(back.filter(col("doc_id") === 999999L).count() == 0)
  }

  test("read refuses a directory with no manifest (nothing committed there)") {
    val out = freshDir()
    val e = intercept[IllegalArgumentException] {
      TrainingShards.read(spark, out)
    }
    assert(e.getMessage.contains("_MANIFEST.json"))
  }

  test("two appends never collide on shard names (job token in the file name)") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents").limit(10)
    TrainingShards.write(docs, out)
    TrainingShards.write(docs, out)
    val manifest = new String(Files.readAllBytes(Paths.get(out, "_MANIFEST.json")), "UTF-8")
    val files = """"file": "([^"]+)"""".r.findAllMatchIn(manifest).map(_.group(1)).toSeq
    assert(files.size == files.distinct.size, s"colliding shard names: $files")
    assert(TrainingShards.read(spark, out, Some(docs.schema)).count() == 20)
  }

  test("the sink rejects multi-column or non-string input") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents")
    val e = intercept[Exception] {
      docs.select(col("doc_id"), col("text"))
        .write.format("graft-shards").option("path", out).mode("append").save()
    }
    assert(e.getMessage.contains("line"))
  }

  test("zstd codec: round trip, .zst extension, streaming tail, and codec-preserving compaction") {
    val out = freshDir()
    val docs = graft.ops.Tables.t(spark, dir, "documents")
    TrainingShards.write(docs, out, maxDocsPerShard = 64, codec = "zstd")
    val names = new java.io.File(out).list().filter(_.startsWith("part-")).toSeq
    assert(names.nonEmpty && names.forall(_.endsWith(".jsonl.zst")), s"got $names")
    // batch read (Spark's json reader decodes by extension)
    val back = TrainingShards.read(spark, out, Some(docs.schema))
    val cols = docs.columns.map(col)
    assert(docs.except(back.select(cols: _*)).count() == 0)
    assert(back.select(cols: _*).except(docs).count() == 0)
    // streaming tail decodes .zst too (ShardLineReader's extension switch)
    val ckpt = freshDir()
    val q = TrainingShards.readStream(spark, out, docs.schema)
      .writeStream.format("memory").queryName("zsttail")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable()
    finally q.stop()
    assert(spark.table("zsttail").count() == docs.count())
    // compaction preserves the layout's codec
    TrainingShards.compact(spark, out, maxDocsPerShard = 1000)
    val compacted = new java.io.File(out).list().filter(_.startsWith("part-")).toSeq
    assert(compacted.nonEmpty && compacted.forall(_.endsWith(".jsonl.zst")), s"got $compacted")
    assert(TrainingShards.read(spark, out, Some(docs.schema)).count() == docs.count())
    // an unknown codec is rejected loudly
    val e2 = intercept[IllegalArgumentException] {
      TrainingShards.write(docs, freshDir(), codec = "lz9")
    }
    assert(e2.getMessage.contains("codec"))
  }
}
