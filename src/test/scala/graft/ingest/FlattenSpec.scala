package graft.ingest

import graft.SparkSpec
import graft.model.Schemas
import graft.pipeline.SyntheticChannels.{Chan, json}

/** SURVEY §7.4 "flatten fidelity": keep-FIRST after last-segment rename
  * is order-dependent — these tests pin the depth-first declaration-order
  * traversal against the pandas behavior recorded in the survey
  * (/root/reference/dags/extract.py:92-99,112).
  */
class FlattenSpec extends SparkSpec {

  private val chan = Chan(1, "Chan#One", 5, 10.0)
  private lazy val items = {
    import spark.implicits._
    Ingest.itemsOf(Seq(json(chan, 1)).toDF("value"))
  }

  test("leafPaths walks depth-first in declaration order") {
    val paths = Flatten.leafPaths(Schemas.channelItem)
    assert(paths.take(4) === Seq("kind", "etag", "id", "snippet.title"))
    // default thumbnail url must come BEFORE medium/high for keep-first
    val urls = paths.filter(_.endsWith(".url"))
    assert(urls === Seq(
      "snippet.thumbnails.default.url",
      "snippet.thumbnails.medium.url",
      "snippet.thumbnails.high.url"))
    // snippet.title must come before localizations.en.title
    assert(paths.indexOf("snippet.title") <
      paths.indexOf("localizations.en.title"))
  }

  test("loopdict renames to last segment and keeps the FIRST duplicate") {
    val flat = Flatten.loopdict(items)
    // exactly one url/title/width column each (duplicates collapsed)
    assert(flat.columns.count(_ == "url") === 1)
    assert(flat.columns.count(_ == "title") === 1)
    val row = flat.select("title", "url", "width", "description").head()
    assert(row.getString(0) === "Chan One")            // snippet.title won
    assert(row.getString(1) === "https://img/1/default.jpg") // default thumb won
    assert(row.getLong(2) === 88L)                     // default width won
    assert(row.getString(3) === "channel 1 description") // snippet.description, not loc
  }

  test("loopdict output never contains a localized value") {
    val flat = Flatten.loopdict(items)
    val all = flat.collect().flatMap(_.toSeq).map(String.valueOf)
    assert(!all.exists(_.contains("LOCALIZED")))
  }

  test("flattenDictStyle explodes arrays positionally as {key}_{i}") {
    val flat = Flatten.flattenDictStyle(items,
      arrayLens = Map("topicIds" -> 2, "topicCategories" -> 1))
    assert(flat.columns.contains("topicIds_0"))
    assert(flat.columns.contains("topicIds_1"))
    assert(flat.columns.contains("topicCategories_0"))
    val row = flat.select("topicIds_0", "topicIds_1", "topicCategories_0").head()
    assert(row.getString(0) === "/m/topic1")
    assert(row.isNullAt(1)) // fixture has 1 topicId; position 2 -> null
    assert(row.getString(2) === "https://en.wikipedia.org/wiki/Cat1")
  }

  test("flattenDictStyle with zero lens drops array columns entirely") {
    val flat = Flatten.flattenDictStyle(items, arrayLens = Map.empty)
    assert(!flat.columns.exists(_.startsWith("topicIds")))
  }
}
