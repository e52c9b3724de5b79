package graft.tsdb

import org.apache.spark.sql.functions._

/** Series identity: the canonical label-set encoding whose xxhash64 is a
  * series' metric id, the Spark counterpart of the reference's
  * bidirectional index (`index_labels2id` / `index_id2labels`,
  * `cassandra/index/index.go:4091-4108`). A hash id is embarrassingly
  * parallel and collision-checked (the engine's `indexVerify`), so
  * get-or-create is a stateless projection instead of the reference's
  * global lock and dense id search (`index.go:1805-2120`).
  */
object SeriesDim {

  /** Unambiguous canonical label-set encoding for hashing (the reference
    * hashes `labels.String()`, which separates names from values and pairs
    * from pairs — `cassandra/index/index.go:1602`). Plain concatenation
    * collides by construction: ("ab","c") vs ("a","bc") (ADVICE r2), so
    * every pair is `name <U+0002> value` joined by <U+0001>; label names
    * are sorted, so the hash is order-independent like the reference's.
    *
    * Null/empty-valued pairs are OMITTED entirely (each retained pair
    * carries its label name, so omission is unambiguous): a missing label
    * equals the empty label — Prometheus semantics — and, critically, a
    * column-labeled table and a map-labeled stream (where
    * [[graft.streaming.Ingest.ingestLabeled]] drops empty-valued entries
    * and [[canonicalMap]] never sees absent ones) hash the same logical
    * series to the same metric_id (ADVICE r3).
    */
  def canonical(labelCols: Seq[String]): org.apache.spark.sql.Column =
    concat_ws("\u0001", labelCols.sorted.map { c =>
      val v = col(c).cast("string")
      // concat_ws skips null elements — the omission mechanism
      when(v.isNull || v === "", lit(null).cast("string"))
        .otherwise(concat(lit(c), lit("\u0002"), v))
    }: _*)

  /** Canonical encoding of a `map<string,string>` labels column — the
    * dynamic-schema counterpart of [[canonical]]: entries sorted by name,
    * same name/value/pair separators, so a map-labeled stream and a
    * column-labeled table agree on series identity. Null values cannot
    * occur in validated label maps (empty values are dropped at ingest),
    * so no null sentinel is needed here.
    */
  def canonicalMap(labels: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(
      transform(array_sort(map_entries(labels)),
        e => concat(e.getField("key"), lit("\u0002"), e.getField("value"))),
      "\u0001")
}
