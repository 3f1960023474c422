package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** The lifecycle the three persisted index families share — MinHash
  * ([[graft.dedup.Dedup.buildIndex]]), span
  * ([[graft.dedup.Dedup.buildSpanIndex]]) and IVF
  * ([[graft.similarity.Similarity.buildIvfIndex]]): build, probe,
  * append, take down, compact or rebuild. Each family keeps its own
  * payload tables, segmentation and probe; the decisions below are
  * made here once. The layout every family writes under its index dir:
  *
  *   gen-<g>/         the payload tables of generation g; the live
  *                    one is the `gen` its meta row names ([[liveDir]])
  *   meta/            one row of build parameters plus `gen`, the
  *                    family's commit point ([[commitGeneration]])
  *   tombstones/      one-column sidecar of removed ids or keys
  *                    ([[addTombstones]])
  *   meta.next/, tombstones.next/ — transient copies of a swap in
  *                    flight ([[swap]])
  *
  * GENERATION COMMIT: build, rebuild and compaction all replace the
  * payload the same way ([[commitGeneration]]): write generation g+1
  * beside the live g (first deleting an orphan g+1 a crashed attempt
  * left), commit meta naming g+1, clear the tombstone sidecar, then
  * sweep the older generations. Appends add rows to the live
  * generation's tables and never change meta.
  *
  * META COMMIT: meta is written LAST, after every payload table it
  * describes has landed, through the `meta.next` swap. Readers see the
  * complete old index or the complete new one: a crash before the
  * commit leaves generation g live and its sidecar in force, and
  * re-running converges.
  *
  * CRASH SWAP: the two replacements of a live directory in place —
  * the meta commit and the span revive's sidecar rewrite — stage the
  * new copy fully, delete the live directory and rename the copy into
  * place; the rename is the commit. The window between the delete and
  * the rename heals on the next read ([[meta]], [[tombstones]] finish
  * the rename).
  *
  * SIZE CONTRACT: the tombstone sidecar is for TAKEDOWN-SIZED deltas
  * (opt-outs, DMCA lists, audit removals). Every probe anti-joins it
  * under a broadcast hint and one task writes each removal batch.
  * [[addTombstones]] enforces this: the sidecar holds at most the rows
  * `spark.sql.autoBroadcastJoinThreshold` admits for its one column
  * (the threshold divided by the column type's default size; none
  * when automatic broadcast is disabled). A removal past the bound is
  * refused before anything is written. Bulk removal of a large corpus
  * fraction filters the source and rebuilds instead — the full rewrite
  * a mass removal costs anyway — and leaves no sidecar behind.
  *
  * LAYOUT RULE: an index is read only in the layout its family writes
  * today. Its committed meta row must exist and carry every column of
  * the family's [[Layout]]; [[committed]] returns that entry or throws
  * IllegalStateException naming the family's build call. No family
  * reads a default for a missing meta column, and an older layout is
  * never migrated or deleted: it is refused until rebuilt.
  */
object IndexStore {

  /** What a family's meta row carries today: `columns`, written by
    * `build`, the call a refused index is rebuilt with.
    */
  final case class Layout(family: String, build: String, columns: Seq[String])

  /** One memo entry: an index's meta row under the `meta/` listing
    * fingerprint it was read at, plus the read schemas and constants
    * pinned for it.
    *
    * Pinned-schema contract: a table the entry describes keeps its
    * schema until the next meta commit (appends add rows, never
    * columns; a rebuild commits new meta, hence a new entry). So each
    * table path is schema-inferred at most once per entry, on its
    * first read, and every later read passes that schema — no
    * one-task inference job per read. The pinned schema is exactly
    * what a plain read reports.
    *
    * Pinned constants ([[pin]]) follow the same rule for values a
    * family derives from tables that never change under one meta
    * commit (the IVF generation's centroid literal): computed once per
    * entry, and a rebuild's new entry computes them afresh.
    */
  final class Meta private[IndexStore] (val fingerprint: String,
      val row: Row) {
    private val pinned = new ConcurrentHashMap[String, StructType]
    private val constants = new ConcurrentHashMap[String, AnyRef]

    def schema(s: SparkSession, path: String): StructType =
      pinned.computeIfAbsent(path, p => s.read.parquet(p).schema)

    /** The constant under `key`, computed by `make` on first use. */
    def pin[T <: AnyRef](key: String)(make: => T): T =
      constants.computeIfAbsent(key, _ => make).asInstanceOf[T]

    /** The live generation (GENERATION COMMIT). */
    def gen: Int = row.getAs[Int]("gen")
  }

  /** One entry per index dir, keyed by its qualified path. */
  private val memo = new ConcurrentHashMap[String, Meta]

  private def fsOf(s: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  /** Finish a crashed swap: `live` absent, `live.next` present. */
  private def heal(fs: FileSystem, live: Path): Unit = {
    val next = live.suffix(".next")
    if (!fs.exists(live) && fs.exists(next)) fs.rename(next, live)
  }

  /** The index's meta entry, or None when it has no meta. Memoized on
    * the name/length/mtime listing of `meta/`, taken after the heal:
    * a commit changes the listing, so the entry is replaced, while
    * appends and removals leave it. The entry is stored only if the
    * listing still matches after the read, so a commit landing
    * mid-read cannot file an old row under a new fingerprint.
    */
  def meta(s: SparkSession, dir: String): Option[Meta] = {
    val (fs, p) = fsOf(s, s"$dir/meta")
    heal(fs, p)
    def fingerprint: String =
      if (!fs.exists(p)) ""
      else fs.listStatus(p).sortBy(_.getPath.getName)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .mkString("\n")
    val key = p.getParent.toString
    val fp = fingerprint
    val known = memo.get(key)
    if (fp.isEmpty) { memo.remove(key); None }
    else if (known != null && known.fingerprint == fp) Some(known)
    else {
      val m = new Meta(fp, s.read.parquet(p.toString).head())
      if (fingerprint == fp) memo.put(key, m)
      Some(m)
    }
  }

  /** The committed meta entry of the `layout` index at `dir` (see
    * LAYOUT RULE), or IllegalStateException naming `layout.build`.
    */
  def committed(s: SparkSession, dir: String, layout: Layout): Meta =
    existing(s, dir, layout).getOrElse(throw new IllegalStateException(
      s"no ${layout.family} index at $dir (no meta) — build it with ${layout.build}"))

  /** As [[committed]], but None when `dir` holds no index yet — for a
    * build, which starts fresh there. An index in an older layout is
    * still refused.
    */
  def existing(s: SparkSession, dir: String, layout: Layout): Option[Meta] =
    meta(s, dir).map { m =>
      val missing = layout.columns.filterNot(m.row.schema.fieldNames.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"${layout.family} index at $dir predates the current layout (meta " +
          s"lacks ${missing.mkString(", ")}) — rebuild it with ${layout.build} " +
          "into a fresh directory")
      m
    }

  /** Write and commit the next generation of the `layout` index at
    * `dir` (GENERATION COMMIT). `write(out, g)` writes every payload
    * table under `out`, generation g's dir, and returns the meta row:
    * a one-row frame of the layout's columns, whose `gen`, if any, is
    * replaced by g. The layout check runs before anything is written;
    * meta commits through the `meta.next` swap and replaces the memo
    * entry.
    */
  def commitGeneration(s: SparkSession, dir: String, layout: Layout)(
      write: (String, Int) => DataFrame): Int = {
    val gen = existing(s, dir, layout).fold(0)(_.gen + 1)
    val (fs, root) = fsOf(s, dir)
    fs.delete(new Path(root, s"gen-$gen"), true)
    write(s"$dir/gen-$gen", gen).withColumn("gen", lit(gen))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta.next")
    swap(s, s"$dir/meta.next", s"$dir/meta")
    forget(s, dir)
    // the sidecar's rows are folded out of g; older generations go
    fs.listStatus(root).map(_.getPath).filter { p =>
      val n = p.getName
      n.startsWith("tombstones") || (n.startsWith("gen-") && n != s"gen-$gen")
    }.foreach(fs.delete(_, true))
    gen
  }

  /** The live generation's dir of the index at `dir`, `<dir>/gen-<g>`,
    * with g read from its memoized meta entry (no Spark job) — where
    * every family reads and appends its payload tables.
    */
  private[graft] def liveDir(s: SparkSession, dir: String): String = {
    val m = meta(s, dir).getOrElse(
      throw new IllegalStateException(s"no index at $dir (no meta)"))
    s"$dir/gen-${m.gen}"
  }

  /** Drop the index's memo entry (its dir is deleted or rebuilt). */
  def forget(s: SparkSession, dir: String): Unit =
    memo.remove(fsOf(s, dir)._2.toString)

  /** Replace directory `live` by the fully written `staged` one:
    * delete, then rename (see CRASH SWAP above).
    */
  private def swap(s: SparkSession, staged: String, live: String): Unit = {
    val (fs, to) = fsOf(s, live)
    val from = new Path(staged)
    fs.delete(to, true)
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"swap: rename $from -> $to failed")
  }

  /** Whether `path` holds any parquet data file. */
  def hasParquet(s: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(s, path)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** `path` read under `m`'s pinned schema. */
  def read(s: SparkSession, m: Meta, path: String): DataFrame =
    s.read.schema(m.schema(s, path)).parquet(path)

  /** The tombstone sidecar, if any removal has landed since the last
    * compaction or rebuild, read under `schema` — or, when None, under
    * the schema pinned in the index's meta entry. Heals a crashed
    * [[rewriteTombstones]] first.
    */
  def tombstones(s: SparkSession, dir: String,
      schema: Option[StructType]): Option[DataFrame] = {
    val path = s"$dir/tombstones"
    val (fs, p) = fsOf(s, path)
    heal(fs, p)
    if (!hasParquet(s, path)) None
    else Some(schema.orElse(meta(s, dir).map(_.schema(s, path)))
      .fold(s.read.parquet(path))(s.read.schema(_).parquet(path)))
  }

  /** Tombstone `dead` (one distinct column, named and typed as the
    * sidecar; `schema` as in [[tombstones]]) — the one sidecar writer.
    * Idempotent: ids already in the sidecar drop out of the delta,
    * which is staged to scratch before anything is written under the
    * index. Enforces the SIZE CONTRACT: a sidecar that would outgrow
    * the broadcast bound throws IllegalArgumentException naming
    * `route`, the family's bulk removal, and is left unchanged.
    */
  def addTombstones(dead: DataFrame, dir: String, schema: Option[StructType],
      route: String): Unit = {
    val s = dead.sparkSession
    val existing = tombstones(s, dir, schema).map(_.toDF(dead.columns.toSeq: _*))
    val delta = existing.fold(dead)(t => dead.join(t, dead.columns.toSeq, "left_anti"))
    val stage = Scratch.dir("graft_tombstones_")
    try {
      val staged = Scratch.stage(delta, s"$stage/delta")
      val rows = existing.fold(0L)(_.count()) + staged.count()
      val bound = math.max(0L,
        s.sessionState.conf.autoBroadcastJoinThreshold / dead.schema.defaultSize)
      if (rows > bound) throw new IllegalArgumentException(
        s"tombstone sidecar at $dir would hold $rows rows, past the $bound " +
          "that spark.sql.autoBroadcastJoinThreshold admits for its column — " +
          s"a removal this large is a bulk removal: $route")
      staged.coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
    } finally Scratch.delete(stage)
  }

  /** Rewrite the sidecar as `kept` through the `tombstones.next` swap. */
  def rewriteTombstones(s: SparkSession, dir: String, kept: DataFrame): Unit = {
    kept.coalesce(1).write.mode("overwrite").parquet(s"$dir/tombstones.next")
    swap(s, s"$dir/tombstones.next", s"$dir/tombstones")
  }

  /** Refuse a batch that re-uses a tombstoned id: the id-keyed sidecar
    * would kill the new rows too, so the batch would appear ingested
    * while staying dead. `ids` carries the sidecar's column.
    */
  def refuseTombstoned(ids: DataFrame, tomb: Option[DataFrame],
      message: => String): Unit =
    tomb.foreach { t =>
      if (ids.join(t, t.columns.toSeq, "left_semi").limit(1).count() > 0)
        throw new IllegalStateException(message)
    }

  /** Memo keys, for specs. */
  private[graft] def memoKeys: Seq[String] = {
    import scala.jdk.CollectionConverters._
    memo.keySet().asScala.toSeq
  }
}
