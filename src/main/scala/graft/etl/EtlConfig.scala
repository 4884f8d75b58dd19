package graft.etl

/** Connector configuration (reference R1/R2, etl_connector.py:23-34):
  * env-style config with defaults and fail-fast validation.
  *
  * @param apiKey        required — fail fast when absent (R2,
  *                      etl_connector.py:33-34)
  * @param baseUrl       source base URL (etl_connector.py:26)
  * @param connectorName constant metadata column (etl_connector.py:30)
  * @param city          optional; empty string is treated as absent
  *                      (etl_connector.py:31,142)
  * @param perPage       server page size, pushed as a limit (R5)
  * @param maxPages      scan cap (etl_connector.py:88,96)
  * @param batchSize     the reference's sink batch size
  *                      (etl_connector.py:206): the number of documents
  *                      in one MongoDB bulk request. No sink reads it.
  *                      Each snapshot write here is one generation that
  *                      publishes atomically, so a partial 20-document
  *                      flush has no analog, and rows per file are not a
  *                      unit of storage: `Pipeline.run` writes one file
  *                      per post-AQE partition. Kept, validated and
  *                      parsed (`BATCH_SIZE`) for config compatibility;
  *                      `Pipeline.upsert`'s `maxRecordsPerFile` is the
  *                      explicit per-file bound
  * @param maxRetries    transport retry attempts (etl_connector.py:53)
  * @param backoffMs     initial backoff, doubles per attempt
  *                      (etl_connector.py:55,62)
  */
final case class EtlConfig(
    apiKey: String,
    baseUrl: String = "https://otx.alienvault.com/api/v1",
    connectorName: String = "otx_pulses_connector",
    city: Option[String] = None,
    perPage: Int = 50,
    maxPages: Int = 100,
    batchSize: Int = 20,
    maxRetries: Int = 5,
    backoffMs: Long = 1000L) {
  // ALL invariants fail at construction, not hours later mid-retry-loop:
  // a negative backoff would reach Thread.sleep
  require(apiKey.nonEmpty, "apiKey must be set (fail-fast, reference R2)")
  require(perPage > 0, s"perPage ($perPage) must be positive")
  require(maxPages >= 0, s"maxPages ($maxPages) must be >= 0")
  require(batchSize > 0, s"batchSize ($batchSize) must be positive")
  require(maxRetries >= 1, s"maxRetries ($maxRetries) must be >= 1")
  require(backoffMs >= 0, s"backoffMs ($backoffMs) must be >= 0")
}

object EtlConfig {
  /** Build from an env-style map, overriding only the keys present —
    * the case class is the single source of defaults AND validation
    * (fromEnv used to restate every default, so a changed default
    * would silently not apply to env-built configs). Missing/empty api
    * key aborts (R2). Empty CITY → None (R12's empty-string→null rule,
    * etl_connector.py:142). Numeric parse failures name the variable. */
  def fromEnv(env: Map[String, String]): EtlConfig = {
    val key = env.getOrElse("OTX_API_KEY", "")
    require(key.nonEmpty, "OTX_API_KEY missing — aborting (reference R2)")
    def num[T](name: String, parse: String => T): Option[T] =
      env.get(name).map(v => try parse(v) catch {
        case e: NumberFormatException =>
          throw new IllegalArgumentException(s"$name: not a number: '$v'", e)
      })
    val base = EtlConfig(apiKey = key, city = env.get("CITY").filter(_.nonEmpty))
    base.copy(
      baseUrl = env.getOrElse("OTX_BASE_URL", base.baseUrl),
      connectorName = env.getOrElse("CONNECTOR_NAME", base.connectorName),
      perPage = num("PER_PAGE", _.toInt).getOrElse(base.perPage),
      maxPages = num("MAX_PAGES", _.toInt).getOrElse(base.maxPages),
      batchSize = num("BATCH_SIZE", _.toInt).getOrElse(base.batchSize),
      maxRetries = num("MAX_RETRIES", _.toInt).getOrElse(base.maxRetries),
      backoffMs = num("BACKOFF_MS", _.toLong).getOrElse(base.backoffMs))
  }
}
