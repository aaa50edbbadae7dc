package graft.sources

import java.io.{EOFException, IOException, InputStream}
import java.net.URI
import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** Read-only Hadoop FileSystem that resolves `graftds:/<size>/<b64-id>`
  * paths to presigned HTTP(S) URLs and serves ranged reads, so Spark's
  * vectorized parquet reader streams shared files directly from object
  * storage on each executor.
  *
  * The reference reaches presigned URLs by nesting a
  * `read_parquet('<url>')` query through DuckDB's httpfs
  * (`/root/reference/src/duck_delta_share_extension.cpp:578-613`);
  * the Spark-native equivalent is a FileSystem scheme the parquet
  * reader can seek in. The file size is embedded in the path (it comes
  * from `FileAction.size`), so `getFileStatus` never touches the
  * network — at 100 TB scale, per-file HEAD requests from every task
  * would otherwise dominate.
  *
  * The path carries only an opaque **file id**, never the signed URL:
  * paths surface in the Spark UI, event logs, and task failure
  * messages, and a presigned URL there is a leaked credential. The id
  * resolves to the current URL through [[PresignedUrlCache]], which
  * also re-issues the original `/query` POST when a URL expires
  * mid-scan (multi-hour 100 TB scans outlive typical ~1 h URL TTLs;
  * task retries alone would re-read the same dead URL).
  *
  * Reads go through [[HttpRangeInputStream]]: every GET is bounded
  * and read to its end, the footer costs one suffix GET and a parquet
  * row group's column chunks one merged GET, so a file costs a few
  * GETs over kept-alive connections.
  */
class PresignedUrlFileSystem extends FileSystem {
  private var fsUri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"${PresignedUrlFileSystem.Scheme}:/")
  }

  override def getScheme: String = PresignedUrlFileSystem.Scheme
  override def getUri: URI = fsUri
  override def getWorkingDirectory: Path = new Path(s"${PresignedUrlFileSystem.Scheme}:/")
  override def setWorkingDirectory(dir: Path): Unit = ()

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val (id, size) = PresignedUrlFileSystem.decode(f)
    new FSDataInputStream(new HttpRangeInputStream(
      () => PresignedUrlCache.urlFor(id),
      stale => PresignedUrlCache.refresh(id, stale),
      size, statistics, PresignedReadCounters.onThisThread))
  }

  override def getFileStatus(f: Path): FileStatus = {
    val (_, size) = PresignedUrlFileSystem.decode(f)
    new FileStatus(size, false, 1, 128L * 1024 * 1024, 0L, f)
  }

  override def listStatus(f: Path): Array[FileStatus] = Array(getFileStatus(f))
  override def exists(f: Path): Boolean = true

  // read-only surface: Delta Sharing has no write path (SURVEY.md §7
  // non-goals)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("read-only filesystem")
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("read-only filesystem")
  override def rename(src: Path, dst: Path): Boolean =
    throw new UnsupportedOperationException("read-only filesystem")
  override def delete(f: Path, recursive: Boolean): Boolean =
    throw new UnsupportedOperationException("read-only filesystem")
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    throw new UnsupportedOperationException("read-only filesystem")
}

object PresignedUrlFileSystem {
  val Scheme = "graftds"
  val ImplConfKey = s"fs.$Scheme.impl"
  val ImplClass: String = classOf[PresignedUrlFileSystem].getName

  /** Encode an opaque file id + known size as a graftds path (the id
    * is base64url'd so arbitrary server-issued ids stay path-safe). */
  def encode(fileId: String, size: Long): String = {
    val b64 = Base64.getUrlEncoder.withoutPadding()
      .encodeToString(fileId.getBytes(StandardCharsets.UTF_8))
    s"$Scheme:/$size/$b64"
  }

  /** Inverse of [[encode]]: (fileId, size). */
  def decode(p: Path): (String, Long) = {
    val parts = p.toUri.getPath.stripPrefix("/").split("/", 2)
    val id = new String(Base64.getUrlDecoder.decode(parts(1)),
      StandardCharsets.UTF_8)
    (id, parts(0).toLong)
  }

  /** Register the scheme on a Hadoop conf (idempotent). */
  def register(conf: Configuration): Unit =
    conf.set(ImplConfKey, ImplClass)

  /** Credential-safe rendering of a presigned URL (query string holds
    * the signature). */
  private[sources] def redact(url: String): String = url.split('?').head
}

/** Executor-local file-id → presigned-URL registry with expiry
  * refresh. InputPartitions carry (id, url) pairs and the reader
  * factory registers them on the executor before opening the file, so
  * the mapping exists in every JVM that reads — no driver round-trip.
  * On HTTP 403 (expired signature) the reading task re-issues the
  * scan's original `/query` POST via the stored [[RefreshSpec]] and
  * swaps in the fresh URLs for every file of the response.
  */
object PresignedUrlCache {

  /** Everything needed to re-issue the original request from an
    * executor when a presigned URL expires mid-scan. `changesRange`
    * set = the scan was a `/changes` (CDF) read and the refresh
    * re-issues that GET instead of a `/query` POST. */
  final case class RefreshSpec(
      profile: DeltaSharingProfile,
      share: String, schema: String, table: String,
      jsonPredicateHints: Option[String],
      predicateHints: Seq[String],
      limitHint: Option[Long],
      version: Option[Long],
      timestamp: Option[String] = None,
      changesRange: Option[graft.sources.v2.ChangesRange] = None)

  /** Stable identity for a shared file: the server's `id` when
    * present, else a digest of the URL with its (re-signed, volatile)
    * query string stripped. */
  def fileId(f: FileAction): String = fileId(f.id, f.url)

  def fileId(id: String, url: String): String =
    if (id.nonEmpty) id
    else {
      val stable = PresignedUrlFileSystem.redact(url)
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(stable.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }

  /** Entry cap for each of the two id-keyed maps. URLs + specs for a
    * multi-million-file scan would otherwise accumulate without bound
    * in every executor JVM for the life of the process (the registry
    * is a JVM-global object). Eviction is safe: every reader task
    * re-registers its own partition's (id, url, spec) immediately
    * before opening the file, and a URL evicted while still needed
    * heals through the spec-driven re-query, exactly like an expired
    * one. Override with `-Dgraft.presignedUrlCache.maxEntries=N`.
    * The parse is memoized on the raw property string (it sits on the
    * `removeEldestEntry` hot path, i.e. every map insertion), and a
    * malformed value falls back to the default instead of surfacing
    * as a NumberFormatException thrown from `register()` mid-scan. */
  @volatile private var maxEntriesMemo: (String, Int) = null
  private[graft] def maxEntries: Int = {
    val raw = sys.props.getOrElse("graft.presignedUrlCache.maxEntries", "65536")
    val memo = maxEntriesMemo
    if (memo != null && memo._1 == raw) memo._2
    else {
      val parsed = try raw.toInt catch { case _: NumberFormatException => 65536 }
      maxEntriesMemo = (raw, parsed)
      parsed
    }
  }

  /** Access-ordered LRU; all access is serialized on the enclosing
    * object's monitor (reads included — LinkedHashMap mutates its
    * order links on `get`). */
  private final class Lru[V] extends java.util.LinkedHashMap[String, V](
    64, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      size() > maxEntries
  }

  private val urls = new Lru[String]
  private val specs = new Lru[RefreshSpec]

  /** Serializes the network re-query so a wave of simultaneously-
    * expired tasks issues ONE POST. Distinct from the map monitor,
    * which is never held across the network call — cached reads and
    * registrations for OTHER files proceed while a refresh is in
    * flight (16 reader threads must not stall behind one hung
    * sharing-server round trip). Lock order: refreshLock, then the
    * object monitor; nothing acquires them in the other order. */
  private val refreshLock = new Object

  /** putIfAbsent semantics: a task retry replaying the original
    * partition must not clobber a URL an expiry refresh renewed. */
  def register(id: String, url: String, spec: RefreshSpec): Unit = synchronized {
    urls.putIfAbsent(id, url)
    specs.putIfAbsent(id, spec)
  }

  /** Current URL for `id`; if the entry was LRU-evicted but its
    * refresh spec survives, re-issues the `/query` instead of
    * failing the task. */
  def urlFor(id: String): String = {
    val cached = synchronized { urls.get(id) }
    if (cached != null) cached else requery(id, stale = None)
  }

  /** Renewed URL after a 401/403 on `staleUrl`; callers that raced a
    * completed refresh see the renewed value without a network call. */
  def refresh(id: String, staleUrl: String): String = {
    val current = synchronized { urls.get(id) }
    if (current != null && current != staleUrl) current
    else requery(id, stale = Option(staleUrl))
  }

  /** Re-issue the original `/query` for `id`'s scan and re-register
    * every returned file's URL. Holds `refreshLock` (not the map
    * monitor) across the POST; the double-check under the lock lets
    * racing expiries coalesce onto the winner's renewal. */
  private def requery(id: String, stale: Option[String]): String =
    refreshLock.synchronized {
      val winner = synchronized { urls.get(id) }
      if (winner != null && !stale.contains(winner)) winner
      else {
        val spec = synchronized { specs.get(id) }
        if (spec == null)
          throw new IOException(
            s"cannot refresh presigned URL for unknown file id $id")
        val client = new DeltaSharingClient(spec.profile)
        val files: Seq[(String, String)] = spec.changesRange match {
          case Some(range) =>
            range.fetch(client, spec.share, spec.schema, spec.table)
              .actions.map(a => (fileId(a.id, a.url), a.url))
          case None =>
            client.queryTable(
              spec.share, spec.schema, spec.table,
              jsonPredicateHints = spec.jsonPredicateHints,
              predicateHints = spec.predicateHints,
              limitHint = spec.limitHint,
              version = spec.version,
              timestamp = spec.timestamp).files
              .map(f => (fileId(f), f.url))
        }
        synchronized {
          // capture the target's URL from the RESPONSE while
          // re-registering: a listing larger than maxEntries would
          // LRU-evict the very entry being refreshed before a
          // read-back could see it
          var target: String = null
          files.foreach { case (fid, url) =>
            if (fid == id) target = url
            urls.put(fid, url)
          }
          if (target == null)
            throw new IOException(
              s"re-issued request no longer returns file id $id")
          target
        }
      }
    }

  /** Test hooks. */
  private[graft] def clear(): Unit = synchronized { urls.clear(); specs.clear() }
  private[graft] def cachedUrlCount: Int = synchronized { urls.size }
}

/** Seekable, vectored ranged-HTTP input stream over [[HttpTransport]]
  * (which also reads `file:` URLs and local paths).
  *
  * Every object-store GET is bounded and its body is read to the end,
  * so the JDK keeps the connection alive for the next GET:
  *  - a read that misses near the end of the file fetches the last
  *    [[HttpRangeInputStream.TailBytes]] with one suffix GET
  *    (`bytes=-N`), which holds the parquet footer and its length;
  *  - any other sequential read that misses fetches a bounded window
  *    of [[HttpRangeInputStream.WindowBytes]] from the read position;
  *  - positional reads, vectored reads and sequential reads of a
  *    window or more fetch exactly the bytes asked for, less the
  *    prefix or suffix the held tail or window already covers;
  *  - `readVectored` merges ranges closer than
  *    [[HttpRangeInputStream.MergeGapBytes]] (up to
  *    [[HttpRangeInputStream.MaxMergedBytes]] each) with Hadoop's
  *    `VectoredReadUtils` and issues one GET per merged range, so a
  *    parquet row group costs one GET.
  *
  * The URL is re-resolved through `resolve` on every GET and `refresh`
  * is invoked once per GET on HTTP 401/403, so an expired presigned URL
  * heals inside the running task instead of failing the job; transient
  * failures follow the transport's retry rule. Each GET
  * counts its body bytes and one read operation in `counters` (the
  * scan's custom metrics) and in the FileSystem's `stats` (Spark's task
  * input metrics), through [[PresignedReadCounters.read]]. */
private[sources] class HttpRangeInputStream(
    resolve: () => String,
    refresh: String => Unit,
    size: Long,
    stats: FileSystem.Statistics,
    counters: PresignedReadCounters)
  extends InputStream with Seekable with PositionedReadable {
  import HttpRangeInputStream._

  private var pos = 0L
  /** Bytes [heldStart, heldStart + held.length) of the file: the tail
    * or the last sequential window, served without a GET. */
  private var held = Array.emptyByteArray
  private var heldStart = 0L
  private def heldEnd: Long = heldStart + held.length
  private def holds(at: Long): Boolean = at >= heldStart && at < heldEnd

  /** File bytes [off, off + len) into `dst` with one bounded GET (a
    * suffix GET when `suffix`, which requires off + len == size),
    * counting its body bytes. */
  private def fetch(off: Long, len: Int, suffix: Boolean,
      dst: Array[Byte], dstOff: Int): Unit = {
    val range = if (suffix) s"bytes=-$len" else s"bytes=$off-${off + len - 1}"
    val got = HttpTransport.request(resolve, headers = Seq("Range" -> range),
        counters = Some(counters), refresh = Some(refresh)) { resp =>
      val in = resp.body
      // 200 = the server ignored Range and sends the whole object:
      // skip to the offset
      val skip = if (resp.status == 200) off else 0L
      var skipped = 0L
      while (skipped < skip) {
        val k = in.skip(skip - skipped)
        if (k <= 0) throw new EOFException(s"cannot skip to $off ($range)")
        skipped += k
      }
      var done = 0
      while (done < len) {
        val n = in.read(dst, dstOff + done, len - done)
        if (n < 0) throw new EOFException(s"EOF at ${off + done} ($range)")
        done += n
      }
      skipped + len
    }
    counters.read(stats, got)
  }

  /** File bytes [off, off + len) into `dst`: the prefix or suffix the
    * held bytes cover is copied, the rest is one bounded GET. */
  private def readRange(off: Long, dst: Array[Byte], dstOff: Int,
      len: Int): Unit = {
    val end = off + len
    val lo = math.max(off, heldStart)
    val hi = math.min(end, heldEnd)
    val (from, to) =
      if (lo < hi && (lo == off || hi == end)) {
        System.arraycopy(held, (lo - heldStart).toInt, dst,
          dstOff + (lo - off).toInt, (hi - lo).toInt)
        if (lo == off) (hi, end) else (off, lo)
      } else (off, end)
    if (to > from)
      fetch(from, (to - from).toInt, suffix = false, dst,
        dstOff + (from - off).toInt)
  }

  /** Make the held bytes cover `at` (< size): the tail when `at` lies
    * in it, else a window starting at `at`. */
  private def hold(at: Long): Unit =
    if (!holds(at)) {
      val tail = math.min(TailBytes.toLong, size)
      val (from, len) =
        if (at >= size - tail) (size - tail, tail.toInt)
        else (at, math.min(WindowBytes.toLong, size - at).toInt)
      val bytes = new Array[Byte](len)
      fetch(from, len, suffix = from + len == size, bytes, 0)
      held = bytes
      heldStart = from
    }

  override def read(): Int =
    if (pos >= size) -1
    else {
      hold(pos)
      val b = held((pos - heldStart).toInt) & 0xff
      pos += 1
      b
    }

  override def read(buf: Array[Byte], off: Int, len: Int): Int =
    if (len == 0) 0
    else if (pos >= size) -1
    else {
      var n = math.min(len.toLong, size - pos).toInt
      if (!holds(pos) && n >= WindowBytes) readRange(pos, buf, off, n)
      else {
        hold(pos)
        n = math.min(n.toLong, heldEnd - pos).toInt
        System.arraycopy(held, (pos - heldStart).toInt, buf, off, n)
      }
      pos += n
      n
    }

  override def seek(newPos: Long): Unit = {
    if (newPos < 0 || newPos > size)
      throw new EOFException(s"seek($newPos) out of bounds [0,$size]")
    pos = newPos
  }

  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Int =
    if (position >= size) -1
    else {
      // min as Long BEFORE narrowing: >2 GiB remaining would overflow
      // a (size - position).toInt to negative
      val n = math.min(length.toLong, size - position).toInt
      readRange(position, buffer, offset, n)
      n
    }

  override def readFully(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Unit = {
    if (position < 0 || position + length > size)
      throw new EOFException(
        s"readFully($position, $length) out of bounds [0,$size]")
    readRange(position, buffer, offset, length)
  }

  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)

  override def minSeekForVectorReads(): Int = MergeGapBytes
  override def maxReadSizeForVectorReads(): Int = MaxMergedBytes

  override def readVectored(ranges: java.util.List[_ <: FileRange],
      allocate: java.util.function.IntFunction[java.nio.ByteBuffer]): Unit = {
    val sorted = VectoredReadUtils.validateAndSortRanges(ranges,
      java.util.Optional.of(java.lang.Long.valueOf(size)))
    sorted.forEach(_.setData(new java.util.concurrent.CompletableFuture))
    VectoredReadUtils.mergeSortedRanges(sorted, 1, MergeGapBytes,
      MaxMergedBytes).forEach { merged =>
      val len = merged.getLength
      try {
        val buf = allocate(len)
        if (buf.hasArray)
          readRange(merged.getOffset, buf.array,
            buf.arrayOffset + buf.position(), len)
        else {
          val bytes = new Array[Byte](len)
          readRange(merged.getOffset, bytes, 0, len)
          buf.put(bytes).flip()
        }
        merged.getUnderlying.forEach(r => r.getData.complete(
          VectoredReadUtils.sliceTo(buf, merged.getOffset, r)))
      } catch {
        case e: IOException =>
          merged.getUnderlying.forEach(_.getData.completeExceptionally(e))
      }
    }
  }

  override def close(): Unit = held = Array.emptyByteArray
}

private[sources] object HttpRangeInputStream {
  /** Suffix fetched by the first read near the end of a file: Arrow
    * C++'s default parquet footer read size, enough for the footer of
    * a wide file with a few row groups in one GET. */
  val TailBytes: Int = 64 * 1024
  /** Bounded read-ahead of a sequential read that misses: parquet
    * reads a filter column's dictionary page this way before it reads
    * the row group's column chunks, and the vectored read then takes
    * the prefix or suffix the window holds instead of fetching it
    * again. */
  val WindowBytes: Int = 1024 * 1024
  /** Vectored ranges closer than this are fetched as one GET: the gap
    * bytes cost less than another first-byte wait. */
  val MergeGapBytes: Int = 128 * 1024
  /** Upper bound of one merged vectored GET, and so of the buffer it
    * fills. */
  val MaxMergedBytes: Int = 8 * 1024 * 1024
}

/** Per-reader tallies of the presigned read path, reported as the
  * scans' DSv2 custom metrics: GETs issued (including refused ones),
  * body bytes fetched, transient retries and expiry refreshes. A
  * partition reader installs its counters on whichever thread opens
  * one of its files; `PresignedUrlFileSystem.open` hands them to the
  * stream.
  *
  * Spark sets a task's input bytes from the Hadoop FileSystem
  * statistics of the task's own thread, which are kept per thread. So
  * the parquet bytes a stream reads on another thread (a file opened
  * ahead) wait here until the thread that made these counters, the
  * task thread, [[claim]]s them. */
final class PresignedReadCounters {
  import java.util.concurrent.atomic.AtomicLong
  val gets = new AtomicLong
  val bytes = new AtomicLong
  val retries = new AtomicLong
  val refreshes = new AtomicLong

  private val owner = Thread.currentThread
  private val pendingBytes = new AtomicLong
  private val pendingOps = new AtomicLong
  @volatile private var pendingStats: FileSystem.Statistics = _

  /** One GET of `n` body bytes through a FileSystem with `stats`:
    * credited to `stats` now on the owner thread, at the next [[claim]]
    * on any other. */
  private[sources] def read(stats: FileSystem.Statistics, n: Long): Unit = {
    bytes.addAndGet(n)
    if (stats != null) {
      if (Thread.currentThread eq owner) {
        stats.incrementBytesRead(n)
        stats.incrementReadOps(1)
      } else {
        pendingStats = stats
        pendingBytes.addAndGet(n)
        pendingOps.incrementAndGet()
      }
    }
  }

  /** Credits the reads made on other threads so far to the calling
    * thread's FileSystem statistics; called on the owner thread. */
  def claim(): Unit = {
    val s = pendingStats
    if (s != null) {
      s.incrementBytesRead(pendingBytes.getAndSet(0L))
      s.incrementReadOps(pendingOps.getAndSet(0L).toInt)
    }
  }

  /** Current values, in the order of [[PresignedReadCounters.supported]]. */
  def taskMetrics: Array[CustomTaskMetric] =
    PresignedReadCounters.Names.zip(Seq(gets, bytes, retries, refreshes))
      .map { case (n, c) =>
        val v = c.get
        new CustomTaskMetric {
          override def name(): String = n
          override def value(): Long = v
        }
      }.toArray
}

object PresignedReadCounters {
  /** The metrics a scan reading through this path declares. */
  def supported: Array[CustomMetric] = Array(new PresignedGetsMetric,
    new PresignedBytesMetric, new PresignedRetriesMetric,
    new PresignedRefreshesMetric)

  val Names: Seq[String] = supported.map(_.name).toSeq

  private val current = new ThreadLocal[PresignedReadCounters]

  /** Runs `body` with `c` as the counters of streams opened on this
    * thread. */
  def counting[T](c: PresignedReadCounters)(body: => T): T = {
    val prev = current.get
    current.set(c)
    try body finally current.set(prev)
  }

  /** The counters installed on this thread, or fresh unreported ones
    * for a stream opened outside a partition reader. */
  private[sources] def onThisThread: PresignedReadCounters =
    Option(current.get).getOrElse(new PresignedReadCounters)
}

/** A summed presigned-read counter. Spark instantiates a scan's
  * declared metrics by class name on the driver, so each counter is a
  * public class with a no-argument constructor. */
sealed abstract class PresignedReadMetric(n: String, d: String)
    extends CustomSumMetric {
  override def name(): String = n
  override def description(): String = d
}
final class PresignedGetsMetric
  extends PresignedReadMetric("presignedGets", "presigned GETs")
final class PresignedBytesMetric
  extends PresignedReadMetric("presignedBytes", "presigned bytes fetched")
final class PresignedRetriesMetric
  extends PresignedReadMetric("presignedRetries", "presigned GET retries")
final class PresignedRefreshesMetric
  extends PresignedReadMetric("presignedRefreshes", "presigned URL refreshes")
