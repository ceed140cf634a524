package graft.ops

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Driver faces for the network family — S6 (HTTP URL source), S9 (blob
  * upload sink), V2 (batch embedder) — run hermetically against a loopback
  * HTTP fixture. The PRODUCT code under test is the real wire path
  * (`sources/UrlSource` streamed GET with redirects/retries/status,
  * `sources/BlobSink` streamed PUT, `pipeline/HttpEmbedder` OpenAI-wire
  * batch POST from executor tasks); only the far end is the in-process
  * stand-in, exactly like the stub embeddings and the fake media codecs —
  * the sandbox has no egress, and a loopback server is the one honest way
  * to exercise real HTTP semantics inside it.
  */
object NetOps {

  /** In-process loopback fixture: static files (GET), a blob store
    * (PUT/GET), and an OpenAI-wire embeddings endpoint whose vectors are a
    * pinned integer formula of the input text — so DuckDB replays the
    * scoring with plain arithmetic (the oracle-determinism pattern).
    *
    * Every thread is a daemon (the server must never hold the forked
    * Verify/Bench JVM open), started from a throwaway daemon thread so the
    * JDK dispatcher inherits daemon status. */
  object LoopbackHttp {
    // the embedding formula, one source of truth for server AND oracle:
    //   entry_i(id) = ((id*A + i*B) mod P − OFF) / 100   (id = text as long)
    // P prime keeps entries spread; OFF centers them; /100 makes a float
    // whose *100 round-trips exactly (|m| <= 498 << 2^24)
    val P = 997L
    val A = 31L
    val B = 7L
    val OFF = 498L
    val Dim = 64

    private val files = new ConcurrentHashMap[String, File]()
    private val blobs = new ConcurrentHashMap[String, Array[Byte]]()

    private lazy val server: HttpServer = {
      val s = HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      val daemonFactory = new ThreadFactory {
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-loopback")
          t.setDaemon(true)
          t
        }
      }
      s.setExecutor(Executors.newFixedThreadPool(16, daemonFactory))
      s.createContext("/files", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = respond(ex) {
          val key = ex.getRequestURI.getPath.stripPrefix("/files/")
          Option(files.get(key)) match {
            case Some(f) if f.isFile =>
              (200, java.nio.file.Files.readAllBytes(f.toPath))
            case _ => (404, s"no such file: $key".getBytes("UTF-8"))
          }
        }
      })
      s.createContext("/blob", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = respond(ex) {
          val key = ex.getRequestURI.getPath.stripPrefix("/blob/")
          ex.getRequestMethod match {
            case "PUT" =>
              blobs.put(key, ex.getRequestBody.readAllBytes())
              (201, Array.empty[Byte])
            case "GET" => Option(blobs.get(key)) match {
              case Some(b) => (200, b)
              case None => (404, s"no such blob: $key".getBytes("UTF-8"))
            }
            case m => (405, s"unsupported method $m".getBytes("UTF-8"))
          }
        }
      })
      s.createContext("/v1/embeddings", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = respond(ex) {
          val mapper = new ObjectMapper
          val req = mapper.readTree(ex.getRequestBody)
          val input = req.get("input")
          val resp = mapper.createObjectNode()
          val data = resp.putArray("data")
          var i = 0
          while (i < input.size) {
            val text = input.get(i).asText("")
            val id = try text.trim.toLong catch {
              case _: NumberFormatException => text.length.toLong
            }
            val item = data.addObject()
            item.put("index", i)
            val emb = item.putArray("embedding")
            var j = 0L
            while (j < Dim) {
              emb.add((math.floorMod(id * A + j * B, P) - OFF) / 100.0)
              j += 1
            }
            i += 1
          }
          (200, mapper.writeValueAsBytes(resp))
        }
      })
      // start from a daemon thread: the JDK dispatcher thread inherits
      // daemon status from its creator, and must not pin the JVM open
      val starter = new Thread(() => s.start(), "graft-loopback-start")
      starter.setDaemon(true)
      starter.start()
      starter.join()
      s
    }

    private def respond(ex: HttpExchange)(f: => (Int, Array[Byte])): Unit =
      try {
        val (code, body) = f
        ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
        if (body.nonEmpty) ex.getResponseBody.write(body)
      } finally ex.close()

    private def base: String =
      s"http://127.0.0.1:${server.getAddress.getPort}"

    /** Register a local file under `key` and return its GET URL. */
    def serveFile(key: String, f: File): String = {
      files.put(key, f)
      s"$base/files/$key"
    }
    def blobUrl(name: String): String = s"$base/blob/$name"
    def embeddingsEndpoint: String = s"$base/v1/embeddings"
  }

  private def tag(sf: String): String = sf.replaceAll("[^A-Za-z0-9._-]", "_")

  /** S6 face: the orders table served over real HTTP, fetched through the
    * streamed/redirect/retry GET path, format-dispatched, and aggregated —
    * the oracle checks the same aggregate over the original table. */
  def qUrlIngest(s: SparkSession, sf: String): DataFrame = {
    // the driver's sf tables are single parquet FILES; a directory-table
    // (the empty-fixture layout) serves its one part file — the face's
    // contract is one-file-per-URL, like the reference's one ingest URL
    val src = new File(s"$sf/orders.parquet") match {
      case d if d.isDirectory =>
        val parts = d.listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        require(parts.length == 1,
          s"one-file-per-URL contract: ${d.getPath} holds ${parts.length} " +
            "part files; a multi-part table must fail loudly, not serve a subset")
        parts.head
      case f => f
    }
    val url = LoopbackHttp.serveFile(s"orders_${tag(sf)}.parquet", src)
    val local = graft.sources.UrlSource.download(url, "target/tmp_url_ingest")
    IngestOps.readAny(s, local).agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey").cast("long")).as("sum_key"),
      dsum(col("o_totalprice"), 2).as("sum_price"),
      countDistinct(col("o_orderstatus")).as("n_status"))
  }

  /** V2 face: embed a derived text column (the doc_id rendered as text — a
    * deterministic input the oracle can re-derive without string-encoding
    * ambiguity) through the REAL executor-side batch-POST path against the
    * loopback endpoint, then fold each vector to a micro-int checksum the
    * oracle replays with the same integer formula. */
  def qHttpEmbed(s: SparkSession, sf: String): DataFrame = {
    import LoopbackHttp._
    val docs = t(s, sf, "documents")
      .select(col("doc_id"), col("doc_id").cast("string").as("txt"))
    val embedded = graft.pipeline.Embedder.embedColumn(
      docs, "txt",
      graft.pipeline.HttpEmbedder(embeddingsEndpoint, "graft-stub", Dim),
      batchSize = 32)
    embedded.select(
      col("doc_id"),
      size(col("embedding")).as("n_dims"),
      aggregate(transform(col("embedding"),
          v => round(v.cast("double") * 100).cast("long")),
        lit(0L), (acc, x) => acc + x).as("vsum"))
      .orderBy("doc_id")
  }

  /** S9 face: aggregate → single parquet part → streamed HTTP PUT to the
    * blob store → fetched back over GET → re-read; the oracle checks the
    * same aggregate over the original table, certifying byte-true upload
    * and download of a real parquet artifact. */
  def qBlobPutRoundtrip(s: SparkSession, sf: String): DataFrame = {
    val work = s"target/tmp_blob/${tag(sf)}"
    t(s, sf, "orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 2).as("sum_price"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(s"$work/out")
    val part = new File(s"$work/out").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.isFile)
      .minBy(_.getName) // exactly one after coalesce(1); minBy for determinism
    val url = LoopbackHttp.blobUrl(s"agg_${tag(sf)}.parquet")
    graft.sources.BlobSink.uploadPut(part.toString, url)
    val local = graft.sources.UrlSource.download(url, s"$work/back")
    read(s, local).orderBy("o_orderstatus")
  }
}
