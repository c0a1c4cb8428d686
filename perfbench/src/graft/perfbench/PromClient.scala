package graft.perfbench

import java.net.{HttpURLConnection, URI}

import org.xerial.snappy.Snappy

import graft.transport.PromProto

/** Prometheus remote-read over HTTP, the way Prometheus itself calls it. */
object PromClient {
  def read(port: Int, qs: Seq[PromProto.Query]): Either[String, Seq[Seq[PromProto.TimeSeries]]] = {
    val body = Spans.span("encode")(Snappy.compress(PromProto.encodeReadRequest(qs)))
    val c = URI.create(s"http://127.0.0.1:$port/api/v1/read").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setConnectTimeout(10000)
      c.setReadTimeout(60000)
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/x-protobuf")
      c.setRequestProperty("Content-Encoding", "snappy")
      c.setRequestProperty("X-Prometheus-Remote-Read-Version", "0.1.0")
      val out = c.getOutputStream
      try out.write(body) finally out.close()
      val code = c.getResponseCode
      if (code != 200) {
        val err = Option(c.getErrorStream).map(s => new String(s.readAllBytes(), "UTF-8"))
        Left(s"HTTP $code ${err.getOrElse("")}")
      } else {
        val bytes = c.getInputStream.readAllBytes()
        Right(Spans.span("decode")(
          PromProto.decodeReadResponse(Snappy.uncompress(bytes))))
      }
    } finally c.disconnect()
  }
}
