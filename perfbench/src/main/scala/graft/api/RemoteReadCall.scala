package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.streaming.Prompb
import graft.tsdb.Matcher

/** What the streamed XOR-chunk remote-read handler does for one query,
  * minus the HTTP framing: select the matched series, encode their chunks
  * on the executors, and encode each series on the driver. The chunk
  * encoder is private to this package, hence the file's package.
  */
object RemoteReadCall {
  /** One ChunkedReadResponse holding every matched series. */
  def streamed(api: HttpApi, q: Prompb.ReadQuery, extra: Seq[Matcher]): Array[Byte] = {
    val series = api.readSeriesFrame(q, extra).toSeq.flatMap { df =>
      df.withColumn("chunks", HttpApi.xorChunksUdf(col("samples.ts_ms"), col("samples.value")))
        .select("labels", "chunks").toLocalIterator().asScala.map { r =>
          val chunks = r.getAs[scala.collection.Seq[Row]]("chunks")
            .map(c => Prompb.ChunkMeta(c.getLong(0), c.getLong(1), c.getAs[Array[Byte]](2))).toSeq
          Prompb.encodeChunkedSeries(r.getAs[Map[String, String]]("labels"), chunks)
        }.toVector
    }
    Prompb.encodeChunkedReadResponse(series, 0L)
  }
}
