package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The sources' one HTTP GET against a loopback server, and the cache's
  * write-then-move discipline under a concurrent reader.
  */
class SourcesIoSpec extends AnyFunSuite {

  private def zipOf(name: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    z.putNextEntry(new java.util.zip.ZipEntry(name))
    z.write(body)
    z.closeEntry(); z.close()
    out.toByteArray
  }

  test("httpGetBytes returns a 200 body byte for byte and names the URL " +
      "of a 404") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val zip = zipOf("B01001_11.csv", "GEOID,VAL\n1,2\n".getBytes("UTF-8"))
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, status: Int, body: Array[Byte]): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        ex.sendResponseHeaders(status, if (body.isEmpty) -1L else body.length.toLong)
        if (body.nonEmpty) ex.getResponseBody.write(body)
        ex.close()
      })
    serve("/data.csv.zip", 200, zip)
    serve("/text.json", 200, """{"é": 1}""".getBytes("UTF-8"))
    serve("/missing", 404, Array.emptyByteArray)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      assert(CensusApi.httpGetBytes(s"$base/data.csv.zip").sameElements(zip))
      assert(VarRep.unwrapCsv(CensusApi.httpGetBytes(s"$base/data.csv.zip"))
        .sameElements("GEOID,VAL\n1,2\n".getBytes("UTF-8")))
      assert(CensusApi.httpGet(s"$base/text.json") == """{"é": 1}""")
      val e = intercept[java.io.IOException](CensusApi.httpGetBytes(s"$base/missing"))
      assert(e.getMessage.contains(s"$base/missing"), e.getMessage)
      assert(e.getMessage.contains("404"), e.getMessage)
    } finally server.stop(0)
  }

  test("a loader polling the cache while another thread misses on a large " +
      "body only ever reads the whole body") {
    val dir = Files.createTempDirectory("crcache-atomic")
    val u = CensusReporterUrl("censusreporter:B01001/140/05000US11001")
    val body = "x" * (50 * 1024 * 1024)
    val cached = dir.resolve(u.cacheKey)
    val started = new java.util.concurrent.CountDownLatch(2)
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // two loaders: each loads as soon as the file exists and keeps
    // loading until the writer returns, so loads also start late in a
    // write
    val readers = (1 to 2).map { _ =>
      val t = new Thread(() => {
        started.countDown()
        var reads = 0
        while (!writerDone.get || reads == 0) {
          if (Files.exists(cached)) {
            val got = CensusReporter.getResource(u, cache = true, dir,
              fetch = _ => sys.error("reader must hit the cache"))
            reads += 1
            assert(got.length == body.length,
              s"reader saw ${got.length} of ${body.length} chars")
          } else Thread.onSpinWait()
        }
      })
      t.setUncaughtExceptionHandler((_, e) => readerError.set(e))
      t.start()
      t
    }
    started.await()
    try assert(CensusReporter.getResource(u, cache = true, dir,
      fetch = _ => body).length == body.length)
    finally writerDone.set(true)
    readers.foreach(_.join(60000))
    assert(!readers.exists(_.isAlive), "a reader never saw the cache file")
    Option(readerError.get).foreach(t => throw t)
    // no temp sibling is left behind
    assert(Files.list(cached.getParent).toArray.length == 1)
  }
}
