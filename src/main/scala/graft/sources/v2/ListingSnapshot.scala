package graft.sources.v2

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

import graft.sources.{DeltaSharingClient, FileAction, TableFiles}

/** The `/query` listings of ONE table version, keyed by their exact
  * request ([[ListingRequest]]): every scan builder planning against
  * that version reads its listings here, so the session's queries
  * re-download and re-parse a table's add-actions once per version and
  * request shape instead of once per query. Reuse across the queries of
  * a session is an explicit object with a lifecycle (the EDBT 2020
  * incremental top-k model, PAPERS.md):
  *  - **key**: [[ListingSnapshot.of]] resolves a builder's snapshot by
  *    (endpoint, bearer-token digest, share, schema, table) and the head
  *    version one HEAD reports; in it each listing is keyed by its exact
  *    request, so every distinct predicate or `limitHint` still reaches
  *    the server once per version and its server-side pruning is kept;
  *  - **lifecycle**: the session's snapshots live in
  *    [[graft.Artifacts.scoped]] and die with the session; a HEAD that
  *    reports a newer version replaces the table's snapshot (builders
  *    already planning keep the one they resolved);
  *  - **margin**: a listing holding a presigned URL that expires within
  *    [[ListingSnapshot.ExpiryMarginMs]] is listed afresh for any
  *    builder but the one that listed it;
  *  - **bound**: at most [[ListingSnapshot.MaxRequests]] request shapes
  *    per table version, least recently used first out.
  * Failures are never memoized. Time travel and servers whose HEAD
  * carries no `Delta-Table-Version` get a snapshot private to one
  * builder: one `/query` per request shape and builder. */
private[v2] final class ListingSnapshot {
  import ListingSnapshot._

  private val entries = new java.util.LinkedHashMap[ListingRequest, Entry](
      16, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[ListingRequest, Entry]): Boolean =
      size() > MaxRequests
  }

  /** The listing for `req`: the held one when `owner` fetched it or
    * none of its URLs expires within the margin; else `fetch`ed and
    * held for `owner`. */
  def listing(req: ListingRequest, owner: AnyRef)(
      fetch: => TableFiles): TableFiles = {
    val now = System.currentTimeMillis()
    synchronized(Option(entries.get(req)))
      .filter(e => (e.owner eq owner) || now + ExpiryMarginMs < e.expiresAt)
      .map(_.files)
      .getOrElse {
        val files = fetch
        synchronized(entries.put(req, Entry(files, owner, expiry(files.files))))
        files
      }
  }
}

private[v2] object ListingSnapshot {
  /** A listing is not handed to another builder when one of its
    * presigned URLs expires within this margin: the other builder's
    * tasks could start reading after the URL lapsed. */
  val ExpiryMarginMs: Long = 5L * 60 * 1000

  /** Request shapes kept per table version. */
  val MaxRequests = 8

  private final case class Entry(files: TableFiles, owner: AnyRef,
      expiresAt: Long)

  /** The earliest `expirationTimestamp` of `files`, in epoch millis
    * (the protocol's number, or an ISO-8601 instant); Long.MaxValue
    * when none carries one, Long.MinValue when one is unreadable. */
  private def expiry(files: Seq[FileAction]): Long =
    files.iterator.flatMap(_.expirationTimestamp).map { t =>
      try {
        if (t.forall(_.isDigit)) t.toLong
        else java.time.Instant.parse(t).toEpochMilli
      } catch { case _: Exception => Long.MinValue }
    }.foldLeft(Long.MaxValue)(math.min)

  /** A table as the session's snapshots key it: the bearer token only
    * by digest, so two tokens never share a listing and no token is
    * held in the key. */
  private final case class TableKey(endpoint: String, tokenDigest: String,
      share: String, schema: String, table: String)

  /** The head snapshot of each table the session has listed. */
  private final class Heads {
    private val heads =
      scala.collection.mutable.Map.empty[TableKey, (Long, ListingSnapshot)]

    /** `key`'s snapshot at `version`: the held one when it is that
      * version; a new one that replaces it when `version` is newer; a
      * private one (the held snapshot stays) when it is older. */
    def at(key: TableKey, version: Long): ListingSnapshot = synchronized {
      heads.get(key) match {
        case Some((v, s)) if v == version => s
        case Some((v, _)) if v > version => new ListingSnapshot
        case _ =>
          val s = new ListingSnapshot
          heads(key) = (version, s)
          s
      }
    }
  }

  /** The snapshot a builder for `addr` lists from: one HEAD resolves the
    * head version and the session's snapshot of it; time travel, or a
    * HEAD without a version, gets a new private snapshot. */
  def of(spark: SparkSession, addr: TableAddress): ListingSnapshot =
    if (addr.versionAsOf.isDefined || addr.timestampAsOf.isDefined)
      new ListingSnapshot
    else new DeltaSharingClient(addr.profile)
      .headTableVersion(addr.share, addr.schema, addr.table) match {
      case None => new ListingSnapshot
      case Some(version) =>
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(addr.profile.bearerToken.getBytes(UTF_8))
          .map("%02x".format(_)).mkString
        graft.Artifacts.scoped(spark, "deltashare.listingSnapshots")(new Heads)
          .at(TableKey(addr.profile.endpoint, digest, addr.share,
            addr.schema, addr.table), version)
    }
}
