package graft.sources.mongo

import com.fasterxml.jackson.core.JsonToken

/** CouchDB `_find` execution — the live half of the reference's CouchDB
  * integration (reference: extension/couchdb/couchdb_extension.ts:84
  * recursively calls `db.find({selector, skip, fields})` in batches of 25;
  * `POST /<db>/_find` is CouchDB's documented Mango HTTP endpoint, and 25
  * is its default page size, which is why the reference's skip stride
  * works without an explicit limit).
  *
  * The graft-geojson source uses this when `serverPushdown=true` on an
  * `http(s)://` path: the path names a database, the pushed predicates
  * travel as the [[MongoFindGen]] Mango selector, and only matching
  * documents cross the wire. The scan re-applies every pushed filter
  * locally afterwards, so a server that ignores the selector degrades to
  * transfer cost, never to a wrong result.
  */
object CouchFind {

  /** CouchDB's default `_find` page size (couchdb_extension.ts:84). */
  val PageSize = 25

  /** Backstop against a misbehaving server that answers full pages
    * forever — 4M pages = 100M documents through one `_find` cursor is
    * far past the point where the data belongs in a bulk snapshot. */
  private val MaxPages = 4 * 1000 * 1000

  /** One page of documents (as JSON text) plus the response's `bookmark`
    * cursor when the server sent a usable one. `skip` is the absolute
    * document offset (docs already served by this cursor) and `limit`
    * the page size to ask for — explicit on every request so the stride
    * holds even when the endpoint's default page size is not 25, and so
    * a shrunk page (the capped cursor's remainder) cannot corrupt the
    * offset of the one after it. When `bookmark` is supplied it replaces
    * the skip entirely (CouchDB resumes the cursor there — O(page)
    * server work instead of the skip's O(offset) document walk). */
  def page(dbUrl: String, selector: String, fields: Seq[String], skip: Int,
           timeoutMs: Int, limit: Int = PageSize,
           bookmark: Option[String] = None): (Seq[String], Option[String]) = {
    val body = MongoFindGen.couchQuery(selector, fields, skip, Some(limit), bookmark)
    val resp = graft.sources.DocFiles.post(
      s"${dbUrl.stripSuffix("/")}/_find", body, "application/json", timeoutMs)
    pageOf(resp)
  }

  /** Widens POSITIVE comparison leaves whose value is a numeric-looking
    * string into `(string form OR numeric form)`. Every graft column is
    * StringType, but CouchDB documents keep their JSON types and Mango
    * matching is type-sensitive — `{"$eq": "5"}` misses a document whose
    * property is the number 5, a subset exclusion the local filter
    * re-apply could never recover. The widened selector is a SUPERSET of
    * either typing (local re-apply narrows it back); negative shapes
    * ($ne/$nin) already match across type boundaries and must NOT widen
    * (an OR of negations is weaker in the wrong direction), so `Not`
    * subtrees pass through untouched. */
  private[sources] def widen(f: org.apache.spark.sql.sources.Filter): org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.sources._
    def num(v: Any): Option[Double] = v match {
      // NaN/Infinity have no JSON literal — widening them would emit an
      // invalid selector and fail the whole query
      case s: String => s.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
      case _         => None
    }
    f match {
      case EqualTo(c, v) => num(v).map(n => Or(f, EqualTo(c, n))).getOrElse(f)
      case LessThan(c, v) => num(v).map(n => Or(f, LessThan(c, n))).getOrElse(f)
      case GreaterThan(c, v) => num(v).map(n => Or(f, GreaterThan(c, n))).getOrElse(f)
      case LessThanOrEqual(c, v) =>
        num(v).map(n => Or(f, LessThanOrEqual(c, n))).getOrElse(f)
      case GreaterThanOrEqual(c, v) =>
        num(v).map(n => Or(f, GreaterThanOrEqual(c, n))).getOrElse(f)
      case In(c, vs) if vs.exists(num(_).isDefined) =>
        In(c, vs ++ vs.flatMap(num(_)).map(d => d: Any))
      case And(l, r) => And(widen(l), widen(r))
      case Or(l, r)  => Or(widen(l), widen(r))
      case other     => other
    }
  }

  /** The scan's `bbox` option (written by SpatialFilterPushdown) as a
    * Mango range clause for the `_find` selector, or None when the spec
    * cannot prune server-side: the `empty` sentinel means the local
    * predicate already drops everything (one page of waste at most — not
    * worth a selector no real corpus produces), and a malformed spec is
    * left for the scan's own bboxPredicate `require` to report. The
    * local re-apply always runs regardless ([[MongoFindGen.bboxClause]]
    * ships a superset). */
  private[graft] def bboxSelector(spec: String): Option[String] = {
    if (spec == "empty") return None
    val parts = spec.split(",").map(_.trim.toDoubleOption)
    if (parts.length != 4 || parts.exists(_.isEmpty)) None
    else Some(MongoFindGen.bboxClause(
      parts(0).get, parts(1).get, parts(2).get, parts(3).get))
  }

  /** All matching documents, lazily paginated — each partition reader pulls
    * pages as Spark consumes rows, so a LIMIT stops the HTTP traffic too.
    * `maxDocs` is a TRANSFER HINT, not a truncation: while under it the
    * cursor asks the server for only the remainder (a pushed LIMIT n on a
    * predicate-free scan transfers n documents), but if the consumer
    * keeps pulling past it — a document that flattened to ZERO rows
    * (empty FeatureCollection) makes n docs yield fewer than n rows —
    * paging resumes with full-size pages, so the cap can never
    * under-deliver. The reader passes it only when nothing re-applies
    * locally; with filters in play every page stays full-size so the
    * local re-apply can keep looking. */
  def docs(dbUrl: String, selector: String, fields: Seq[String],
           timeoutMs: Int, maxDocs: Option[Int] = None): Iterator[String] = {
    // Bookmark cursor state: the previous response's bookmark, carried to
    // the next request so the server resumes in O(page) instead of
    // re-walking `skip` documents (O(offset), and O(n²/pagesize) total
    // over the cursor — the reference's skip-stride protocol,
    // couchdb_extension.ts:84, kept as the fallback when the server omits
    // bookmarks). `served` still tracks the absolute offset in parallel,
    // so a server that stops sending bookmarks mid-cursor degrades to an
    // exact skip resume, never to dropped or re-read rows.
    var bookmark: Option[String] = None
    graft.sources.Paged.pull(MaxPages, s"$dbUrl/_find",
      ask = served => maxDocs.filter(_ > served)
        .map(m => math.min(PageSize, m - served)).getOrElse(PageSize),
      fetch = (served, ask) => {
        val (docs, bm) = page(dbUrl, selector, fields, served, timeoutMs, ask, bookmark)
        bookmark = bm
        docs
      })
  }

  /** Extracts the `docs` array of a `_find` response, each document
    * re-serialized verbatim (streaming copy, no tree built). */
  private[mongo] def docsOf(responseJson: String): Seq[String] =
    pageOf(responseJson)._1

  /** Extracts the `docs` array plus the response's `bookmark` cursor.
    * CouchDB sends the literal string `"nil"` when no cursor exists
    * (and some proxies send `""`) — both normalize to None so the
    * cursor falls back to skip-stride instead of POSTing a bookmark the
    * server would reject. */
  private[mongo] def pageOf(responseJson: String): (Seq[String], Option[String]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var bookmark: Option[String] = None
    val f = graft.JsonText.factory
    val p = f.createParser(responseJson)
    try {
      require(p.nextToken() == JsonToken.START_OBJECT,
        "_find response must be a JSON object")
      while (p.nextToken() != JsonToken.END_OBJECT) {
        p.currentName() match {
          case "docs" =>
            require(p.nextToken() == JsonToken.START_ARRAY,
              "_find docs must be an array")
            while (p.nextToken() != JsonToken.END_ARRAY) {
              val sw = new java.io.StringWriter()
              val gen = f.createGenerator(sw)
              gen.copyCurrentStructure(p)
              gen.close()
              out += sw.toString
            }
          case "bookmark" =>
            if (p.nextToken() == JsonToken.VALUE_STRING)
              bookmark = Some(p.getText).filter(b => b.nonEmpty && b != "nil")
            else p.skipChildren() // null or a non-string shape: no cursor
          case _ =>
            p.nextToken(); p.skipChildren()
        }
      }
    } finally p.close()
    (out.toSeq, bookmark)
  }
}
