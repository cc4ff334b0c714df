package graft.sources

import graft.SparkSpec
import graft.ingest._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.Base64

class ObjectStoreSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("DSv2 writer lands objects with metadata sidecars") {
    import spark.implicits._
    val out = Files.createTempDirectory("dsv2-out").toString
    Seq(
      ("p/a.bin", "alpha".getBytes, Map("iv" -> "x", "k" -> "v")),
      ("p/b.bin", "beta".getBytes, Map("iv" -> "y"))
    ).toDF("key", "data", "metadata")
      .write
      .format("graft-objects")
      .option("root", out)
      .mode("append")
      .save()

    val store = new LocalDirObjectStore(out)
    assert(store.listKeys("p/") == Seq("p/a.bin", "p/b.bin"))
    assert(new String(store.get("p/a.bin")) == "alpha")
    assert(store.getMetadata("p/a.bin") == Map("iv" -> "x", "k" -> "v"))
    assert(store.getMetadata("p/b.bin") == Map("iv" -> "y"))
  }

  test("DSv2 writer rejects wrong schema") {
    import spark.implicits._
    val out = Files.createTempDirectory("dsv2-bad").toString
    val e = intercept[Exception] {
      Seq(("k", 1)).toDF("key", "oops").write.format("graft-objects").option("root", out).mode("append").save()
    }
    assert(e.getMessage.contains("key, data, metadata") || e.getMessage.contains("graft-objects"))
  }

  test("DSv2 batch read: landed objects come back as (key, data, metadata); prefix prunes the listing") {
    import spark.implicits._
    val out = Files.createTempDirectory("dsv2-read").toString
    Seq(
      ("p/a.bin", "alpha".getBytes, Map("iv" -> "x")),
      ("p/b.bin", "beta".getBytes, Map("iv" -> "y", "k" -> "v")),
      ("q/c.bin", "gamma".getBytes, Map.empty[String, String])
    ).toDF("key", "data", "metadata")
      .write.format("graft-objects").option("root", out).mode("append").save()

    val all = spark.read.format("graft-objects").option("root", out).load()
    assert(all.count() == 3)
    val p = spark.read.format("graft-objects").option("root", out).option("prefix", "p/").load()
    val rows = p.collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1)), r.getAs[Map[String, String]](2))).sortBy(_._1)
    assert(rows.map(_._1).sameElements(Array("p/a.bin", "p/b.bin")))
    assert(rows.map(_._2).sameElements(Array("alpha", "beta")))
    assert(rows(1)._3 == Map("iv" -> "y", "k" -> "v"))
  }

  test("column pruning reaches the store client: unselected columns are never fetched") {
    import spark.implicits._
    val out = Files.createTempDirectory("dsv2-prune").toString
    Seq(("p/a.bin", "alpha".getBytes, Map("iv" -> "x")))
      .toDF("key", "data", "metadata")
      .write.format("graft-objects").option("root", out).mode("append").save()
    // Sabotage the metadata sidecar: any scan that calls getMetadata now
    // fails loudly, so a passing pruned scan PROVES the fetch was skipped.
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "p/a.bin.metadata.json"))

    val df = spark.read.format("graft-objects").option("root", out).load()
    assert(df.select("key").as[String].collect().sameElements(Array("p/a.bin")))
    assert(new String(df.select("data").as[Array[Byte]].head()) == "alpha")
    intercept[org.apache.spark.SparkException](df.select("metadata").collect())
  }

  /** Compress + envelope-encrypt `payloads` on the executors into the
    * writer's `(key, data, metadata)` rows under `pfx/2024-02-02/`.
    */
  private def encryptedRows(pubB64: String, payloads: Seq[(String, String)]) = {
    import spark.implicits._
    payloads.toDS()
      .mapPartitions { it =>
        val pub = Envelope.publicKeyFromBase64(pubB64)
        it.map { case (name, text) =>
          val obj = Envelope.encrypt(Zlib.compress(text.getBytes("UTF-8")), pub, "kid")
          (s"pfx/2024-02-02/$name.gz.enc", obj.ciphertext, obj.metadata)
        }
      }
      .toDF("key", "data", "metadata")
  }

  private def decrypted(store: ObjectStore, key: String, priv: java.security.PrivateKey): String = {
    val md = store.getMetadata(key)
    assert(md.keySet == Set("iv", "ciphertext", "datakeyencryptionkeyid"), key)
    new String(Zlib.decompress(Envelope.decrypt(EncryptedObject(store.get(key), md), priv)), "UTF-8")
  }

  test("DSv2 writer: envelope-encrypted objects round-trip decrypt") {
    val (pub, priv) = Envelope.generateKeyPair()
    val out = Files.createTempDirectory("v2-out").toString
    val payloads = Seq("f1.json" -> """{"a":1}""", "f2.json" -> "x" * 5000)
    encryptedRows(Base64.getEncoder.encodeToString(pub.getEncoded), payloads)
      .write.format("graft-objects").option("root", out).mode("append").save()

    val store = new LocalDirObjectStore(out)
    val keys = store.listKeys("pfx/")
    assert(keys == Seq("pfx/2024-02-02/f1.json.gz.enc", "pfx/2024-02-02/f2.json.gz.enc"))
    assert(decrypted(store, keys.head, priv) == """{"a":1}""")
    assert(decrypted(store, keys(1), priv) == "x" * 5000)
  }

  test("DSv2 writer targets an S3 store through its s3.* options") {
    val (pub, priv) = Envelope.generateKeyPair()
    val fake = new FakeS3Server("bkt", pageSize = 1000)
    try {
      val s3Opts = Map(
        "s3.bucket" -> "bkt", "s3.endpoint" -> fake.endpoint, "s3.region" -> "eu-west-2",
        "s3.accesskey" -> "AKIDEXAMPLE", "s3.secretkey" -> "sk"
      )
      val payloads = (1 to 5).map(i => s"audit-data-$i.json" -> s"""{"id": "000$i"}""")
      encryptedRows(Base64.getEncoder.encodeToString(pub.getEncoded), payloads)
        .write.format("graft-objects").options(s3Opts).mode("append").save()

      val store = S3ObjectStoreFactory(fake.endpoint, "eu-west-2", "bkt", "AKIDEXAMPLE", "sk").create()
      assert(store.listKeys("pfx/2024-02-02/").size == 5)
      assert(decrypted(store, "pfx/2024-02-02/audit-data-1.json.gz.enc", priv) == """{"id": "0001"}""")
    } finally fake.stop()
  }

  test("batch read lists the store exactly once per scan, even when Spark re-plans") {
    import spark.implicits._
    val fake = new FakeS3Server("bkt", pageSize = 1000)
    try {
      val s3Opts = Map(
        "s3.bucket" -> "bkt", "s3.endpoint" -> fake.endpoint, "s3.region" -> "eu-west-2",
        "s3.accesskey" -> "AKIDEXAMPLE", "s3.secretkey" -> "sk"
      )
      (1 to 5).map(i => (s"p/o$i.bin", s"v$i".getBytes, Map("m" -> "1")))
        .toDF("key", "data", "metadata")
        .write.format("graft-objects").options(s3Opts).mode("append").save()

      fake.listRequests.set(0)
      val n = spark.read.format("graft-objects").options(s3Opts).load().select("key").count()
      assert(n == 5)
      // Pre-fix, toBatch minted a fresh Batch per call and each
      // planInputPartitions re-ran listKeys — against S3 that is redundant
      // LIST RPCs plus key-set drift between planning and execution.
      assert(fake.listRequests.get() == 1,
        s"scan issued ${fake.listRequests.get()} LIST requests; expected exactly 1")
    } finally fake.stop()
  }
}
