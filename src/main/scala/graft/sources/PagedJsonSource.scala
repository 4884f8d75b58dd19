package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StructField, StructType, StringType, IntegerType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for the reference's paginated REST scan (R3–R5, R11,
  * etl_connector.py:53-127), fixture-driven for the zero-egress env:
  * each "page" is a local JSON file `page-<N>.json` under `path`.
  *
  * Spark-first design:
  *  - one InputPartition per page → pages fetched IN PARALLEL across
  *    executor slots (the reference is strictly sequential; at scale a
  *    1000-executor cluster fetches 1000 pages concurrently),
  *  - retry with exponential backoff lives INSIDE the partition reader
  *    (R3), so a transient failure retries one page, not the job,
  *  - LIMIT pushdown (R5): `df.limit(n)` reaches the source via
  *    SupportsPushDownLimit and caps the number of page partitions —
  *    the analog of the reference pushing `limit` to the server,
  *  - envelope handling (R7/R8): items under `results`, else `pulses`,
  *    else the first array-valued member, else the payload itself if
  *    it is an array (etl_connector.py:102-117),
  *  - rows surface as one `raw_json STRING` column (+ page provenance);
  *    typed columns are derived downstream with `from_json`, keeping
  *    the source schema-free like the reference (SURVEY §1.1).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.PagedJsonSource")
  *     .option("path", fixtureDir)
  *     .option("maxPages", 100)    // scan cap, reference R5
  *     .option("maxRetries", 5)    // transport retries, reference R3
  *     .load()
  * }}}
  */
class PagedJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedJsonSource.SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // fail-fast option validation (reference R2, etl_connector.py:33-34)
    require(opts.containsKey("path"), "option 'path' is required (fail-fast, R2)")
    new PagedJsonTable(opts)
  }
}

object PagedJsonSource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("raw_json", StringType, nullable = false),
    StructField("page", IntegerType, nullable = false),
    // position within the page — the intra-page arrival order the
    // reference's sequential item loop implies; last-wins ties inside
    // one page are deterministic only with this as the final tiebreak
    StructField("item", IntegerType, nullable = false)))

  private val PageName = "page-(\\d+)\\.json".r

  /** (file, page number) in page-number order; missing dir = no pages.
    * Non-page files and numbers beyond Int range are IGNORED (one stray
    * filename must not take down every scan and offset computation). */
  def pages(dir: String): Seq[(java.io.File, Int)] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap(f => f.getName match {
        case PageName(num) => num.toIntOption.map(f -> _)
        case _ => None
      })
      .sortBy(_._2)
  }

  /** Envelope extraction (R7/R8, etl_connector.py:102-117): `results`,
    * else `pulses` (empty array counts as absent, like Python `or`),
    * else the first array-valued member, else the payload itself when
    * it is an array, else no items. */
  def extractItems(root: JsonNode): Seq[JsonNode] = {
    def nonEmptyArray(n: JsonNode): Option[Seq[JsonNode]] =
      if (n != null && n.isArray && n.size() > 0) Some(n.elements().asScala.toSeq) else None
    if (root.isArray) root.elements().asScala.toSeq
    else nonEmptyArray(root.get("results"))
      .orElse(nonEmptyArray(root.get("pulses")))
      // the fallback honors the same empty≈absent rule: a present-but-
      // empty `results` must not shadow a populated sibling array
      .orElse(root.properties().asScala.map(_.getValue)
        .collectFirst { case n if n.isArray && n.size() > 0 => n.elements().asScala.toSeq })
      .getOrElse(Seq.empty)
  }

  /** Typed transport failure carrying the HTTP status (and the server's
    * optional Retry-After hint) so the retry loop can give each status
    * class the fate the reference gives it (etl_connector.py:67-83).
    * Transports that can't classify their failures just throw plain
    * exceptions and get the generic backoff path. */
  final case class FetchException(status: Int, retryAfterMs: Option[Long] = None,
      cause: Throwable = null)
    extends RuntimeException(s"HTTP $status", cause)

  /** Status-aware retry (R3, etl_connector.py:53-85):
    *  - non-429 4xx (bad key, bad request): the request can never
    *    succeed — fail fast, zero retries (etl_connector.py:83),
    *  - 429 with Retry-After: sleep exactly what the server asked for
    *    (etl_connector.py:67-74); the exponential counter is untouched,
    *  - 5xx / transport / unclassified: exponential backoff ×2
    *    (etl_connector.py:75-80).
    * Pluggable `sleep` + `fetch` so transports are unit-testable without
    * a network (SURVEY §7 risk list). */
  def withRetry[T](maxRetries: Int, backoffMs: Long, sleep: Long => Unit = Thread.sleep)
                  (fetch: () => T): T = {
    var attempt = 0
    var backoff = backoffMs
    while (true) {
      try return fetch()
      catch {
        case e @ FetchException(status, _, _)
            if status >= 400 && status < 500 && status != 429 =>
          throw e // fatal client error: retrying burns attempts for nothing
        case e: Exception =>
          attempt += 1
          if (attempt >= maxRetries)
            throw new RuntimeException(s"fetch failed after $maxRetries attempts", e)
          e match {
            case FetchException(429, Some(ra), _) => sleep(ra)
            case _ => sleep(backoff); backoff *= 2
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

class PagedJsonTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"paged_json(${options.get("path")})"
  override def schema(): StructType = PagedJsonSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new PagedJsonScanBuilder(options)
}

/** LIMIT pushdown (R5): a pushed limit caps how many page partitions
  * are planned — `ceil(limit / perPage)` pages, mirroring the
  * reference's server-side `limit` + `max_pages` cap. */
class PagedJsonScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownLimit {
  private var pushedLimit: Int = Int.MaxValue
  override def pushLimit(limit: Int): Boolean = { pushedLimit = limit; false }
  override def build(): Scan = new PagedJsonScan(options, pushedLimit)
}

class PagedJsonScan(options: CaseInsensitiveStringMap, pushedLimit: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = PagedJsonSource.SCHEMA
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
    new PagedJsonMicroBatchStream(options)
  override def description(): String =
    s"PagedJsonScan(path=${options.get("path")}, pushedLimit=$pushedLimit)"

  override def planInputPartitions(): Array[InputPartition] = {
    val path = options.get("path")
    val perPage = options.getInt("perPage", 50)
    val maxPages = options.getInt("maxPages", 100)
    require(perPage > 0, s"perPage ($perPage) must be positive")
    require(maxPages >= 0, s"maxPages ($maxPages) must be >= 0")
    // A pushed limit may cap pages ONLY under the server contract that
    // every non-final page is full (the reference's `limit` query param
    // guarantees exactly that). Pages here are local fixtures with
    // arbitrary item counts, so the cap is opt-in: without
    // assumeFullPages, skipping pages could under-return LIMIT rows
    // (pushLimit returns false — Spark still expects the full set).
    val limitPages =
      if (pushedLimit == Int.MaxValue || !options.getBoolean("assumeFullPages", false))
        Int.MaxValue
      else (pushedLimit + perPage - 1) / perPage
    // maxPages caps by PAGE NUMBER (num < maxPages) — the same rule the
    // streaming offset applies — so with gapped or non-zero-based page
    // numbering, batch and streaming read the IDENTICAL page set. (A
    // count-based take() read pages numbered >= maxPages that the
    // stream would never emit.) The pushed-limit cap stays a COUNT of
    // pages: under assumeFullPages the first k surviving pages hold
    // the LIMIT rows regardless of their numbers.
    PagedJsonSource.pages(path)
      .filter { case (_, num) => num < maxPages }
      .take(limitPages)
      .map {
        case (f, num) => PagedJsonPartition(f.getAbsolutePath, num): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedJsonReaderFactory(
      options.getInt("maxRetries", 5),
      options.getLong("retryBackoffMs", 10L),
      options.getInt("failFirstN", 0))
}

case class PagedJsonPartition(file: String, page: Int) extends InputPartition

/** Streaming form of the paginated scan (reference R4's incremental
  * generator, SURVEY §2.1: "in streaming: a micro-batch source with
  * page number as offset"). The offset is the next PAGE NUMBER to
  * read — a page IDENTITY, not a position in the current file
  * listing: a positional offset replays the wrong files whenever the
  * listing shifts between commits (an out-of-order page appearing
  * below the committed offset, or a deleted page sliding later pages
  * back into the committed range). Number-based offsets make replay
  * exact under the producer contract the reference's sequential
  * pagination implies: page numbers are appended monotonically; a
  * page materializing BELOW the committed offset is skipped (and
  * never duplicates committed data). */
case class PagedJsonOffset(page: Int) extends streaming.Offset {
  override def json(): String = page.toString
}

class PagedJsonMicroBatchStream(options: CaseInsensitiveStringMap)
    extends streaming.MicroBatchStream {
  private val path = options.get("path")
  private val maxPages = options.getInt("maxPages", 100)

  override def latestOffset(): streaming.Offset =
    PagedJsonOffset(PagedJsonSource.pages(path)
      .map(_._2 + 1).filter(_ <= maxPages).maxOption.getOrElse(0))
  override def initialOffset(): streaming.Offset = PagedJsonOffset(0)
  override def deserializeOffset(json: String): streaming.Offset =
    PagedJsonOffset(json.toInt)

  override def planInputPartitions(start: streaming.Offset,
                                   end: streaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PagedJsonOffset].page
    val e = end.asInstanceOf[PagedJsonOffset].page
    PagedJsonSource.pages(path)
      .filter { case (_, num) => num >= s && num < e }
      .map { case (f, num) => PagedJsonPartition(f.getAbsolutePath, num): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedJsonReaderFactory(
      options.getInt("maxRetries", 5),
      options.getLong("retryBackoffMs", 10L),
      options.getInt("failFirstN", 0))

  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

class PagedJsonReaderFactory(maxRetries: Int, backoffMs: Long, failFirstN: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PagedJsonReader(partition.asInstanceOf[PagedJsonPartition],
      maxRetries, backoffMs, failFirstN)
}

/** Per-page reader. The fetch (file read + JSON parse) runs under the
  * R3 retry loop; `failFirstN` injects transient failures for tests. */
class PagedJsonReader(p: PagedJsonPartition, maxRetries: Int, backoffMs: Long,
                      failFirstN: Int) extends PartitionReader[InternalRow] {
  private var items: Iterator[JsonNode] = _
  private var current: InternalRow = _

  private def fetchPage(): Seq[JsonNode] = {
    var failures = 0
    PagedJsonSource.withRetry(maxRetries, backoffMs) { () =>
      if (failures < failFirstN) {
        failures += 1
        throw new java.io.IOException(s"injected transient failure $failures")
      }
      val mapper = new ObjectMapper()
      PagedJsonSource.extractItems(mapper.readTree(new java.io.File(p.file)))
    }
  }

  private var itemIdx = -1

  override def next(): Boolean = {
    if (items == null) items = fetchPage().iterator
    if (items.hasNext) {
      val node = items.next()
      itemIdx += 1
      current = InternalRow(UTF8String.fromString(node.toString), p.page, itemIdx)
      true
    } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
