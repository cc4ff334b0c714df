package graft.ingest

/** Pluggable source of the b64 X.509 RSA wrapping key — the seam where an
  * SSM-like parameter store plugs in. The reference fetches the key once
  * per day-batch (audit_data_ingest.py:78, 200-204); here the provider is
  * consulted on the DRIVER once per pending day, in day order, before the
  * run's one job (once per micro-batch in the streams), and the returned
  * strings ship in the task closure (the same per-day hoist), so a
  * long-running deployment can rotate keys between runs and executors
  * never need parameter-store access or credentials.
  *
  * A provider backed by a real parameter store should throw
  * [[TransientCredentialsException]] when its own credentials have
  * expired — [[IngestCli]] maps that to a clean warn-and-exit so the
  * scheduler retries the whole run (audit_data_ingest.py:303-308).
  */
trait KeyProvider {
  def wrappingKeyB64(): String
}

/** Parameter-store-backed provider against the public SSM REST surface
  * (`GetParameter` with `WithDecryption` over the x-amz-json-1.1
  * protocol, SigV4-signed) — the production fill for the seam the
  * reference serves with boto3 SSM (audit_data_ingest.py:200-204).
  *
  * COMPILED AND EXERCISED ONLY AGAINST A LOOPBACK FAKE in this repository
  * (zero egress); the signing math is pinned to AWS's published vectors
  * in SigV4Spec. Runs on the DRIVER only, once per day-batch — executors
  * never hold parameter-store credentials.
  *
  * Error taxonomy mirrors the store clients: expired/invalid tokens →
  * [[TransientCredentialsException]] (CLI exits clean, scheduler
  * retries); 5xx/429 retry internally with capped backoff before raising
  * [[RetryableStoreException]]; other failures raise.
  */
final case class ParameterStoreKeyProvider(
    endpoint: String,
    region: String,
    parameterName: String,
    accessKey: String,
    secretKey: String,
    sessionToken: Option[String] = None,
    maxAttempts: Int = 3,
    baseDelayMs: Long = 50
) extends KeyProvider {

  override def wrappingKeyB64(): String = {
    var attempt = 1
    while (true) {
      try return fetchOnce()
      catch {
        case e: RetryableStoreException if attempt < maxAttempts =>
          Thread.sleep(math.min(2000, baseDelayMs << (attempt - 1)))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def fetchOnce(): String = {
    val body = s"""{"Name":"${JsonMini.esc(parameterName)}","WithDecryption":true}"""
    val (status, respBody, _) = SignedHttp.request(
      endpoint,
      region,
      "ssm",
      S3Credentials(accessKey, secretKey, sessionToken),
      "POST",
      "/",
      Nil,
      Map(
        "content-type" -> "application/x-amz-json-1.1",
        "x-amz-target" -> "AmazonSSM.GetParameter"
      ),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      () => java.time.Instant.now()
    )
    val text = new String(respBody, java.nio.charset.StandardCharsets.UTF_8)
    if (status / 100 != 2) {
      val tokenCodes = Seq("ExpiredToken", "InvalidToken", "TokenRefreshRequired", "UnrecognizedClient")
      if (tokenCodes.exists(text.contains))
        throw new TransientCredentialsException(s"GetParameter $parameterName: credentials rejected (HTTP $status)")
      if (status >= 500 || status == 429)
        throw new RetryableStoreException(s"GetParameter $parameterName: HTTP $status")
      throw new RuntimeException(s"GetParameter $parameterName failed: HTTP $status: ${text.take(300)}")
    }
    // GetParameter returns one Parameter object; its Value field is the
    // b64 key (the reference passes it straight to the key parser, :78).
    """"Value"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(text)
      .map(m => JsonMini.unesc(m.group(1)))
      .getOrElse(throw new RuntimeException(s"GetParameter $parameterName: no Value in response: ${text.take(300)}"))
  }
}
