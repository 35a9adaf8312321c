package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The manifest table as a STRUCTURED STREAMING SOURCE — a custom DSv2
  * connector (the Delta streaming-source story): offsets are COMMITTED
  * VERSION NUMBERS, each micro-batch is exactly the files one commit
  * ADDED, and admission control caps progress at one version per batch —
  * so a downstream pipeline consumes the table's append history with
  * exactly-once version boundaries, checkpoint/restart included, instead
  * of racing a directory listing (the file-source approach, which can
  * tear a commit in half and never sees commit boundaries at all).
  *
  * This is the fourth kind of Spark extension point in the engine, after
  * custom expressions, custom physical operators, and injected optimizer
  * rules: a `TableProvider` → `Table` → `Scan` → `MicroBatchStream`
  * stack. The executor-side reader decodes parquet through the public
  * parquet-hadoop API into `InternalRow`s for the user-declared schema by
  * FIELD NAME, so column order in old files doesn't matter.
  *
  * Scale: `latestOffset`/`planInputPartitions` are manifest arithmetic
  * (driver, metadata-sized); each added file is one `InputPartition`, so
  * read parallelism is file-grained exactly like the batch scan. The
  * DEFAULT mode streams faithfully only over APPEND histories (a merge's
  * rewritten files would re-emit carried rows — Delta's restriction
  * without `skipChangeCommits`); `.option("changeFeed", "true")` lifts
  * it: every commit streams as insert/delete IMAGES (added files,
  * removed files, and a merge-on-read delete's DV-named rows), stamped
  * with `_change_type` / `_commit_version` — the streaming face of
  * [[ManifestTable.changeFeed]], batch-boundary-exact.
  */
class ManifestStreamProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "manifest-stream requires a user-specified schema (.schema(...))")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val base = properties.get("path")
    require(base != null && base.nonEmpty, "manifest-stream requires .load(<table base>)")
    val cdf = Option(properties.get("changeFeed")).exists(_.toBoolean)
    // change-feed reads serve the user's data schema plus the two CDF
    // metadata columns the reader stamps per image
    val served =
      if (cdf && !schema.fieldNames.contains("_change_type"))
        StructType(schema.fields ++ Seq(
          StructField("_change_type", StringType),
          StructField("_commit_version", IntegerType)))
      else schema
    new ManifestStreamTable(served, base, changeFeed = cdf,
      streamBranch = Option(properties.get("branch")),
      streamMaxFiles = Option(properties.get("maxFilesPerTrigger")).map(_.toInt))
  }
}

final class ManifestStreamTable(schema: StructType, base: String,
    pinnedVersion: Option[Int] = None, layoutCol: Option[String] = None,
    changeFeed: Boolean = false,
    // BUCKET layout (bucket count, key column): pvals are bucket ids of
    // `pmod(xxhash64(key), n)`, not raw column values — so the identity
    // layoutCol machinery (value pruning, DPP, key-grouped-by-value) is
    // OFF and the scan instead reports bucket-transform partitioning
    bucketLayout: Option[(Int, String)] = None,
    // TIME/TRUNCATE layout (transform, source column): pvals are the
    // transform of the source column — raw-column predicates prune
    // through the transform, the identity machinery stays off
    transformLayout: Option[(GraftTransform, String)] = None,
    // MULTI-FIELD spec: composite self-describing pvals, conjunctive
    // pruning, spec evolution (see GraftSpec)
    multiLayout: Option[GraftSpec] = None,
    // streaming reads walk this BRANCH's manifest sequence instead of
    // main's (batch reads of a branch go through `t$branch_<name>`)
    streamBranch: Option[String] = None,
    // streaming within-version admission: at most this many delta
    // partitions per micro-batch (see ManifestMicroBatchStream)
    streamMaxFiles: Option[Int] = None,
    // loaded through ManifestCatalog (vs the bare TableProvider): only a
    // catalog table can request TRANSFORM-function write clustering —
    // resolving `truncate(w,c)`/`days(c)` in a required distribution
    // needs the catalog's FunctionCatalog, which provider-path writes
    // don't carry (they keep the identity clustering)
    fromCatalog: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"manifest-stream($base)"
  override def schema(): StructType = schema

  /** One metadata column: `_pval`, the manifest partition value the row's
    * file lives under (served by the reader from the FILE's manifest
    * entry — no data decoding). Row-level operations request it so
    * Spark's write path takes the metadata-projecting task, which is
    * also what strips the internal `__row_operation` column before rows
    * reach the data writer. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_pval"
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "manifest partition value of the row's file"
    })

  /** SQL `UPDATE` / `MERGE INTO` (and non-translatable `DELETE`s) as a
    * GROUP-BASED copy-on-write row-level operation: Spark's rewrite
    * reads the AFFECTED groups (the runtime group filter collects the
    * matching rows' layout values and prunes the scan through the same
    * `SupportsRuntimeFiltering` face DPP uses), computes their full new
    * content, and the write REPLACES exactly the groups the executed
    * scan planned — cold partitions carry by reference, one atomic
    * manifest commit, the same semantics as the programmatic [[ManifestTable.merge]].
    * Groups a MERGE only INSERTS into are never read, so their staged
    * files simply append. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      // `write.mode=merge-on-read` (+ keyCol) flips row-level SQL from the
      // group-rewrite to the DELTA op: deletes land as a version-fenced
      // deletion vector, new rows as appended files — O(changes), not
      // O(touched partitions)
      val props = ManifestTable.tableProperties(
        org.apache.spark.sql.SparkSession.active, base)
      val mor = props.get("write.mode").contains("merge-on-read") &&
        props.contains("keyCol") && props.contains("partCol")
      // BUCKET layout: the GROUP-rewrite path reasons in partCol-value
      // groups and would misread bucket-id pvals — still refused. The
      // DELTA (merge-on-read) path is naturally LAYOUT-PRESERVING: its
      // vector records the manifest pval (= bucket id) verbatim and its
      // staged copies write through the same bucket-clustered writer, so
      // the zero-exchange storage-partitioned join survives the commit.
      if (props.contains("bucket.n") && !mor)
        throw new UnsupportedOperationException(
          s"row-level SQL on the bucket-layout table $base needs " +
            "write.mode=merge-on-read (+ keyCol) — the copy-on-write group " +
            "rewrite cannot preserve the bucket layout")
      // MULTI-FIELD spec: the DELTA path works like every other layout —
      // the vector records the row's FILE manifest pval verbatim (the
      // `_pval` metadata column), the in-scan application compares file
      // pvals directly, and staged update copies route through the
      // spec's composite writer; nothing recomputes a pval from one
      // source column anymore, so composites (and mixed-era manifests
      // after spec evolution) need no special case
      if (mor) {
        ManifestTable.requireBigintKey(schema, props("keyCol"), base)
        new ManifestRowLevelDeltaOp(this, base, info.command(),
          props("keyCol"), props("partCol"), props.get("bucket.n").map(_.toInt),
          GraftTransform.fromProps(props), GraftSpec.fromProps(props))
      } else new ManifestRowLevelOp(this, base, info.command(),
        GraftTransform.fromProps(props), GraftSpec.fromProps(props))
    }

  /** SQL `DELETE FROM graft_cat.\`t\` WHERE ...` (and `TRUNCATE TABLE`,
    * which arrives as a delete with no filters): the translated
    * conjuncts run through the transactional copy-on-write
    * [[ManifestTable.deleteWhere]] — only partitions holding matching
    * rows rewrite, the commit is the usual atomic rename, sidecars
    * refresh transactionally. A predicate Spark cannot translate to
    * source filters is refused ([[canDeleteWhere]]) rather than
    * half-applied. Tables stamped `write.mode=merge-on-read` (+ `keyCol`)
    * route the translated predicate to the DELETION-VECTOR commit
    * instead — metadata-only SQL DELETE, no file rewritten. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val props = ManifestTable.tableProperties(
      org.apache.spark.sql.SparkSession.active, base)
    // RENAMEd/DROPPED columns make the raw translate path unsound (it
    // reads files by their footer names): refuse, and Spark falls through
    // to the row-level DELETE whose reader resolves the name mapping.
    // TRUNCATE (no filters, or AlwaysTrue only) reads nothing and stays.
    val mapped = props.get("colmap").exists(_.contains(">")) ||
      props.get("deadcols").exists(_.nonEmpty)
    val unconditional = filters.forall(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    // BUCKET layout: pvals are bucket ids, not partCol values — the
    // group-grained copy-on-write delete would misclassify touched
    // groups. TRUNCATE stays (replaces every group by id, layout-
    // agnostic), and so does the MERGE-ON-READ route: its deletion
    // vector records bucket-id pvals itself and rewrites no file.
    val mor = props.get("write.mode").contains("merge-on-read") &&
      props.contains("keyCol")
    filters.forall(f => ManifestDeleteSql.toColumn(f).isDefined) &&
      props.contains("partCol") && (!mapped || unconditional) &&
      (!props.contains("bucket.n") || unconditional || mor)
  }
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val props = ManifestTable.tableProperties(spark, base)
    val partCol = props.getOrElse("partCol",
      throw new UnsupportedOperationException(
        s"DELETE needs the partCol table property under $base"))
    // a TRUNCATE (or a predicate matching every row) commits an EMPTY
    // manifest, and empty snapshots are readable only through the stored
    // `schema` property — stamp it from the data schema BEFORE the commit
    // so a table created programmatically (partCol property only) never
    // becomes unreadable by emptying itself
    if (!props.contains("schema")) {
      val data = StructType(schema.fields.filterNot(f =>
        ManifestFileReaderFactory.MetaCols(f.name)))
      val ser = ManifestSchemaProp.serialize(data)
      // the stamp must round-trip through the property store, or the
      // empty post-TRUNCATE snapshot would be permanently unreadable —
      // refuse the TRUNCATE loudly rather than proceed without the stamp
      try ManifestSchemaProp.parse(ser)
      catch {
        case e: Exception => throw new UnsupportedOperationException(
          s"cannot TRUNCATE $base: its schema does not round-trip through " +
            s"the property store (${e.getMessage}) — the empty snapshot " +
            "would be unreadable", e)
      }
      ManifestTable.setTableProperty(spark, base, "schema", ser)
    }
    val preds = filters
      .filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
      .flatMap(ManifestDeleteSql.toColumn).toSeq
    if (preds.isEmpty) {
      // TRUNCATE: a PURE METADATA commit — replace every group with
      // nothing (no data file is read or written; the schema property
      // stamped above keeps the empty snapshot readable). Same pending-DV
      // fence as every rewrite verb.
      require(ManifestTable.pendingDvRels(spark, base).isEmpty,
        s"TRUNCATE under $base requires no pending deletion vectors — " +
          "run purgeDeletes first")
      val v = ManifestTable.currentVersion(spark, base)
      val pvals = ManifestTable.entries(spark, base, v).map(_._1).toSet
      if (pvals.nonEmpty) {
        ManifestTable.commitRetrying(spark, base, v, Seq.empty, Some(pvals))
        ManifestTable.refreshAllStats(spark, base)
      }
    } else if (props.get("write.mode").contains("merge-on-read") &&
        props.contains("keyCol")) {
      // MoR routing: with `write.mode=merge-on-read` (+ `keyCol`) stamped
      // on the table, a SQL DELETE FROM commits a DELETION VECTOR instead
      // of the copy-on-write rewrite — no data file is touched, the
      // predicate scan writes O(matches) metadata, and every read path
      // (catalog SQL included) applies the vector in-scan until
      // purgeDeletes folds it in. The same GDPR-erasure economics the
      // programmatic deleteWhereMoR gives, reachable from plain SQL.
      ManifestTable.deleteWhereMoR(spark, base, preds.reduce(_ && _),
        props("keyCol"), partCol)
      ()
    } else {
      ManifestTable.deleteWhere(spark, base, preds.reduce(_ && _), partCol)
    }
    ()
  }
  // AUTOMATIC_SCHEMA_EVOLUTION: `MERGE INTO ... WITH SCHEMA EVOLUTION`
  // routes new source columns through alterTable AddColumn — the same
  // property-stamp-then-write appendEvolve uses (committed files serve
  // the column as NULL via the name-resolving reader); type changes
  // still refuse loudly in alterTable's default arm
  override def capabilities(): util.Set[TableCapability] =
    if (v1FallbackWrite)
      // bare-provider batch writes into transform layouts take a V1
      // fallback (engine-owned pval clustering — see newWriteBuilder).
      // BOTH write capabilities are declared: DataFrameWriter.save()
      // requires literal BATCH_WRITE to take the DSv2 append path at
      // all, and V1_BATCH_WRITE tells the strategy to expect (and
      // obliges the builder to return) a V1Write — declared only on the
      // instances whose builder actually does.
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_READ, TableCapability.STREAMING_WRITE,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    else util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** True iff this instance is the BARE provider's view of a
    * transform/multi-spec table — the one case whose batch write is the
    * V1 fallback (see [[newWriteBuilder]]). Catalog instances and
    * identity/bucket layouts keep the V2 path. Latched once per
    * instance so capabilities() and the builder can never disagree. */
  private lazy val v1FallbackWrite: Boolean =
    !fromCatalog && {
      val props = ManifestTable.tableProperties(
        org.apache.spark.sql.SparkSession.active, base)
      GraftTransform.fromProps(props).isDefined ||
        GraftSpec.fromProps(props).isDefined
    }

  /** CHECK constraints from the `constraint.<name>` table properties,
    * reported ENFORCED + VALID: Spark's own analyzer
    * (`ResolveTableConstraints`) then injects the check invariant into
    * every SQL write plan against this table — INSERT / UPDATE / MERGE
    * rows that violate fail the statement BEFORE the commit, with no
    * connector-side row loop (the enforcement is codegen'd into the
    * write plan). ADD CONSTRAINT validated the committed data, so VALID
    * is truthful. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    ManifestTable.tableProperties(
      org.apache.spark.sql.SparkSession.active, base).toSeq
      .collect { case (k, v) if k.startsWith("constraint.") =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix("constraint."))
          .predicateSql(v)
          .enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.sortBy(_.name()).toArray

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      // the layout column comes from the writer option or, for SQL
      // INSERT INTO (which passes no options), the table's stored
      // `partCol` property
      private def partCol: String = {
        val fromOpt = Option(info.options.get("partCol"))
        val c = fromOpt.orElse(
          ManifestTable.tableProperties(
            org.apache.spark.sql.SparkSession.active, base).get("partCol"))
          .getOrElse(throw new IllegalArgumentException(
            "manifest-stream write needs .option(\"partCol\", c) or the " +
              "table property partCol"))
        require(info.schema().fieldNames.contains(c),
          s"partition column $c not in the written schema")
        c
      }
      // BUCKET layout: the stored bucket.n property flips the writer's
      // pval from the raw column value to pmod(xxhash64(key), n)
      private def bucketN: Option[Int] =
        ManifestTable.tableProperties(
          org.apache.spark.sql.SparkSession.active, base)
          .get("bucket.n").map(_.toInt)
      // TIME/TRUNCATE layout: the stored transform.kind/width properties
      // flip the pval to the transform of the source column
      private def transformOf: Option[GraftTransform] =
        GraftTransform.fromProps(ManifestTable.tableProperties(
          org.apache.spark.sql.SparkSession.active, base))
      // MULTI-FIELD spec: composite pvals for every staged row
      private def multiOf: Option[GraftSpec] =
        GraftSpec.fromProps(ManifestTable.tableProperties(
          org.apache.spark.sql.SparkSession.active, base))
      override def build(): org.apache.spark.sql.connector.write.Write =
        if (v1FallbackWrite)
          // BARE-PROVIDER path into a transform/multi-spec layout: the
          // connector cannot request transform-value clustering here
          // (resolving `truncate(w,c)`/`days(c)` in a required
          // distribution needs a FunctionCatalog, which a provider-path
          // relation never carries), and the identity fallback re-creates
          // tasks × pvals small-file sprawl on wide layouts. BATCH writes
          // therefore take the V1 fallback: the engine owns the shuffle
          // ([[ManifestTable.insertClustered]] repartitions on the
          // computed pval — one file per partition value, the same layout
          // the catalog path's clustered distribution produces).
          // STREAMING has no V1 fallback; a streamed transform layout
          // should write through the catalog (`.toTable`) — the epoch
          // path still works here, identity-clustered.
          new org.apache.spark.sql.connector.write.V1Write {
            override def toInsertableRelation
                : org.apache.spark.sql.sources.InsertableRelation =
              new org.apache.spark.sql.sources.InsertableRelation {
                override def insert(data: org.apache.spark.sql.DataFrame,
                    overwrite: Boolean): Unit = {
                  require(!overwrite,
                    s"bare-provider manifest write under $base is append-only")
                  ManifestTable.insertClustered(
                    org.apache.spark.sql.SparkSession.active, base, data,
                    partCol)
                }
              }
            override def toStreaming
                : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
              new ManifestStreamingWrite(base, info.schema(), partCol,
                info.queryId(),
                Option(info.options.get("branch")), bucketN, transformOf,
                multiOf)
          }
        else new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // request rows CLUSTERED by the layout before the write: each
          // partition value (bucket id, transform value, spec composite)
          // lands in exactly one task, so an epoch (or INSERT) commits one
          // file per partition value instead of tasks × values — the
          // small-files problem solved where Delta/Iceberg solve it, in
          // the writer's required distribution. Transform-function
          // clustering needs the catalog's FunctionCatalog, so the bare
          // provider path falls back to bucket/identity (and batch
          // transform layouts take the V1 branch above).
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              if (fromCatalog)
                GraftLayoutFunctions.clustering(partCol, bucketN,
                  transformOf, multiOf)
              else Array(bucketN match {
                case Some(n) => org.apache.spark.sql.connector.expressions
                  .Expressions.bucket(n, partCol)
                case None => org.apache.spark.sql.connector.expressions
                  .Expressions.identity(partCol)
              }))
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new ManifestStreamingWrite(base, info.schema(), partCol,
              info.queryId(),
              // `.option("branch", name)`: epochs commit to the branch's
              // manifest sequence (streaming write-audit-publish) — main
              // is untouched until fastForward/rebasePublish
              Option(info.options.get("branch")), bucketN, transformOf, multiOf)
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite =
            new ManifestBatchAppend(base, info.schema(), partCol, bucketN,
              transformOf, multiOf)
        }
    }
  /** The same table pinned to one snapshot (SQL `VERSION AS OF`). */
  def withVersion(v: Int): ManifestStreamTable =
    new ManifestStreamTable(schema, base, Some(v), layoutCol,
      bucketLayout = bucketLayout, transformLayout = transformLayout,
      multiLayout = multiLayout, fromCatalog = fromCatalog)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scanBuilderRecording(options, (_, _) => ())

  /** [[newScanBuilder]] with a PLANNING RECORDER: `onPlan` receives the
    * partition values the batch ultimately plans (post filter/runtime
    * pruning) and the snapshot VERSION it planned against — the
    * coordination a row-level operation's write needs to know which
    * groups the executed scan read (and must replace) and which snapshot
    * that read set is valid for (the commit's conflict check). */
  private[sources] def scanBuilderRecording(options: CaseInsensitiveStringMap,
      onPlan: (Seq[String], Int) => Unit,
      // false for GROUP-REPLACE (copy-on-write) row-level ops: their
      // write replaces planned groups with the scan's output, so per-file
      // sidecar skipping would lose carried rows (see
      // ManifestSnapshotBatch.fileSkipping)
      fileSkipping: Boolean = true): ScanBuilder = {
    // batch reads honor time travel: .option("versionAsOf", v) or the SQL
    // VERSION AS OF pin; default is the current version at planning time
    val versionAsOf =
      Option(options.get("versionAsOf")).map(_.toInt).orElse(pinnedVersion)
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
      // column pruning: the reader resolves fields by NAME, so serving a
      // narrower schema needs no reader changes — a projection reads only
      // its columns off the parquet pages
      private var projected: StructType = schema
      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private var allFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private var metaAgg: Option[(StructType, Seq[Seq[Any]])] = None
      private var pushedLimit: Option[Int] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        if (requiredSchema.nonEmpty) projected = requiredSchema
      /** COMPLETE metadata aggregation (see [[ManifestMetaAgg]]): only
        * claimed when every aggregate, the grouping, and the snapshot
        * state are answerable from manifest + sidecars alone. */
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        ManifestMetaAgg.plan(org.apache.spark.sql.SparkSession.active, base,
          versionAsOf, layoutCol, schema, agg, allFilters.nonEmpty).isDefined
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        metaAgg = ManifestMetaAgg.plan(org.apache.spark.sql.SparkSession.active,
          base, versionAsOf, layoutCol, schema, agg, allFilters.nonEmpty)
        metaAgg.isDefined
      }
      /** LIMIT reaches file planning: with no filters in play, the
        * sidecar row counts let the scan keep only enough files to cover
        * the limit (Spark still applies the row-exact limit above —
        * isPartiallyPushed stays true). */
      override def pushLimit(l: Int): Boolean = {
        if (allFilters.isEmpty && l >= 0) { pushedLimit = Some(l); true }
        else false
      }
      /** FILE skipping, not row filtering: filters on the layout column
        * prune whole manifest partitions; range filters on stats-indexed
        * columns and equality on bloom-indexed columns prune individual
        * files through the commit-maintained sidecars — the same decisions
        * the programmatic `readPruned`/`readPrunedBloom` paths make, now
        * reachable from plain catalog SQL. EVERY filter is returned as a
        * residual (skipping never substitutes for the row-level
        * predicate, exactly like parquet row-group pruning). */
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        val spark = org.apache.spark.sql.SparkSession.active
        allFilters = filters
        pushed = filters.filter(f =>
          ManifestFileSkipping.usable(spark, base, versionAsOf, layoutCol, f))
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
      override def build(): Scan = metaAgg match {
        case Some((aggSchema, rows)) =>
          new ManifestMetaAggScan(aggSchema, rows, base,
            ManifestTable.entries(org.apache.spark.sql.SparkSession.active, base,
              versionAsOf.getOrElse(ManifestTable.currentVersion(
                org.apache.spark.sql.SparkSession.active, base))).size)
        case None => buildDataScan()
      }
      private def buildDataScan(): Scan = new Scan
          with org.apache.spark.sql.connector.read.SupportsReportPartitioning
          with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
          with org.apache.spark.sql.connector.read.SupportsReportStatistics {
        // rows only: the planner then never builds a reader factory
        // (and its parquet reader) just to ask
        override def columnarSupportMode(): Scan.ColumnarSupportMode =
          Scan.ColumnarSupportMode.UNSUPPORTED
        /** Size/row estimates from table METADATA (file statuses + the
          * sidecar row counts), replacing Spark's pessimistic
          * defaultSizeInBytes for v2 relations — a genuinely small
          * catalog table now auto-broadcasts in joins without a hint. */
        override def estimateStatistics()
            : org.apache.spark.sql.connector.read.Statistics = {
          val spark = org.apache.spark.sql.SparkSession.active
          val v = versionAsOf.getOrElse(ManifestTable.currentVersion(spark, base))
          val rels = ManifestTable.entries(spark, base, v).map(_._2)
          val fsys = new Path(base).getFileSystem(new Configuration())
          val size = rels.map { rel =>
            val p = new Path(if (rel.startsWith("/") || rel.contains("://")) rel
              else s"$base/$rel")
            if (fsys.exists(p)) fsys.getFileStatus(p).getLen else 0L
          }.sum
          val rows = ManifestTable.statCols(spark, base, v).view
            .map(c => ManifestTable.readStatsCounts(spark, base, v, c))
            .find(m => rels.forall(m.contains))
            .map(m => rels.map(m).sum)
          // COLUMN-LEVEL stats for the cost-based optimizer, straight
          // from the commit-maintained sidecars: global min/max per
          // stats-indexed column (CBO range selectivity), plus an EXACT
          // distinct count for an identity layout column (its pvals ARE
          // its values) — join-size estimation without an ANALYZE pass
          val relSet = rels.toSet
          val colStats = new java.util.HashMap[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
          def boxed(field: StructField, v: Long): Object = field.dataType match {
            case IntegerType => Int.box(v.toInt)
            case _ => Long.box(v)
          }
          // INTEGRAL columns only: the sidecar min/max is computed via
          // cast('long') (scanStats), which truncates fractional values
          // toward zero — for a DOUBLE column that is neither the true
          // bound (-1.5 truncates to -1 > -1.5) nor the right runtime
          // type (a java.lang.Long boxed against a DoubleType attribute
          // corrupts catalyst's ColumnStat), so those columns report no
          // CBO stats. File SKIPPING is already integral-only in
          // practice: pushed literals arrive typed as the column
          // (catalyst casts them), and ManifestFileSkipping.numeric
          // rejects non-integral literals.
          ManifestTable.statCols(spark, base, v)
            .filter(c => schema.fields.find(_.name.equalsIgnoreCase(c))
              .exists(f => f.dataType == IntegerType || f.dataType == LongType))
            .foreach { c =>
            schema.fields.find(_.name.equalsIgnoreCase(c)).foreach { f =>
              val perFile = ManifestTable.readStatsFile(spark, base, v, c)
                .getOrElse(Map.empty)
                .collect { case (rel, Some(mm)) if relSet(rel) => mm }
              if (perFile.nonEmpty) {
                val (mn, mx) = (perFile.map(_._1).min, perFile.map(_._2).max)
                val ndv =
                  if (layoutCol.exists(_.equalsIgnoreCase(c)))
                    java.util.OptionalLong.of(
                      ManifestTable.entries(spark, base, v).map(_._1).distinct.size.toLong)
                  else java.util.OptionalLong.empty()
                colStats.put(
                  org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
                  new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                    override def min(): java.util.Optional[Object] =
                      java.util.Optional.of(boxed(f, mn))
                    override def max(): java.util.Optional[Object] =
                      java.util.Optional.of(boxed(f, mx))
                    override def distinctCount(): java.util.OptionalLong = ndv
                  })
              }
            }
          }
          new org.apache.spark.sql.connector.read.Statistics {
            override def sizeInBytes(): java.util.OptionalLong =
              java.util.OptionalLong.of(size)
            override def numRows(): java.util.OptionalLong =
              rows.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def columnStats(): java.util.Map[
              org.apache.spark.sql.connector.expressions.NamedReference,
              org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
          }
        }
        // runtime (dynamic partition pruning) state: Spark calls filter()
        // with the build side's collected join keys before re-planning
        @volatile private var runtimePvals: Option[Set[String]] = None
        override def readSchema(): StructType = projected
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ManifestMicroBatchStream(base, projected, changeFeed, streamBranch,
            streamMaxFiles)
        // STATIC BUCKET PRUNING: point predicates on the bucket key keep
        // only the buckets their literals hash into — a key lookup opens
        // 1/n of the table, the hash computed driver-side by the same
        // function the writer used. Conjunction-only, inclusive (any
        // filter shape we can't decide prunes nothing).
        private def staticBucketPvals: Option[Set[String]] =
          bucketLayout.flatMap { case (n, c) =>
            import org.apache.spark.sql.sources.{EqualTo, In}
            val sets = allFilters.toSeq.collect {
              case EqualTo(a, v: java.lang.Long) if a.equalsIgnoreCase(c) =>
                Set(GraftBucketFunction.idOf(n, v).toString)
              case In(a, vs) if a.equalsIgnoreCase(c) &&
                  vs.forall(_.isInstanceOf[java.lang.Long]) =>
                vs.map(v => GraftBucketFunction
                  .idOf(n, v.asInstanceOf[java.lang.Long]).toString).toSet
            }
            if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
          }
        // STATIC TRANSFORM PRUNING: pushed predicates on the RAW source
        // column fold through the table's time/truncate transform into
        // one inclusive pval predicate — a date-range scan of a
        // months(d) table opens only the in-range month partitions, the
        // user never names the transform (Iceberg's hidden partitioning)
        private def staticTransformKeep: Option[String => Boolean] =
          transformLayout.flatMap { case (t, c) =>
            val numeric = t.kind == "truncate" &&
              schema.fields.find(_.name.equalsIgnoreCase(c))
                .exists(f => f.dataType == LongType || f.dataType == IntegerType)
            t.keepPredicate(c, numeric, allFilters.toSeq)
          }
        /** MULTI-FIELD spec pruning: entries under the spec test every
          * field's component predicate conjunctively; PRE-EVOLUTION
          * entries (no spec prefix) are decided by the LEGACY
          * single-field properties the evolution left in place — mixed
          * manifests prune correctly per era, nothing inclusive beyond
          * what each era's transform can decide. */
        private def staticMultiKeep: Option[String => Boolean] =
          multiLayout.map { sp =>
            val spark = org.apache.spark.sql.SparkSession.active
            val props = ManifestTable.tableProperties(spark, base)
            val legacy: String => Boolean =
              (GraftTransform.fromProps(props), props.get("bucket.n"),
                props.get("partCol")) match {
                case (Some(t), _, Some(c)) =>
                  val numeric = t.kind == "truncate" &&
                    schema.fields.find(_.name.equalsIgnoreCase(c))
                      .exists(f => f.dataType == LongType ||
                        f.dataType == IntegerType)
                  t.keepPredicate(c, numeric, allFilters.toSeq)
                    .getOrElse((_: String) => true)
                case (None, Some(n), Some(c)) =>
                  BucketField(n.toInt, c).keep(allFilters.toSeq)
                    .getOrElse((_: String) => true)
                case (None, None, Some(c)) =>
                  val preds = ManifestFileSkipping.partitionPredicates(
                    allFilters.toSeq, Some(c),
                    schema.fields.find(_.name.equalsIgnoreCase(c))
                      .map(_.dataType))
                  (p: String) => preds.forall(_(p))
                case _ => (_: String) => true
              }
            GraftSpec.keepAcrossEras(sp, GraftSpec.history(props),
              allFilters.toSeq, legacy)
          }
        private lazy val batch =
          new ManifestSnapshotBatch(base, projected, versionAsOf,
            layoutCol.filter(projected.fieldNames.contains),
            layoutCol.map(schema.apply).map(_.dataType),
            layoutCol, pushed.toSeq, () => runtimePvals, pushedLimit, onPlan,
            bucketKeyed = bucketLayout.isDefined,
            bucketPvals = staticBucketPvals,
            pvalKeep = staticMultiKeep.orElse(staticTransformKeep),
            fileSkipping = fileSkipping)
        override def toBatch: org.apache.spark.sql.connector.read.Batch = {
          if (streamBranch.isDefined)
            throw new UnsupportedOperationException(
              "batch reads of a branch go through the t$branch_<name> " +
                "metadata table — the `branch` option is for streaming reads")
          batch
        }
        override def filterAttributes()
            : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          // only when the layout column survives the projection: a delta
          // row-level scan may prune to [rowId, _pval], and advertising
          // an unresolvable attribute breaks Spark's DPP rule. Bucket
          // layout advertises its KEY column — arriving join-key values
          // map to bucket ids in filter(). Transform layout advertises
          // its SOURCE column — values map through the transform, so a
          // date-dim join (or a MERGE's group filter) prunes months.
          layoutCol.orElse(bucketLayout.map(_._2))
            .orElse(transformLayout.map(_._2))
            .filter(c => projected.fieldNames.exists(_.equalsIgnoreCase(c)))
            .map(c => Array(
              org.apache.spark.sql.connector.expressions.Expressions.column(c)))
            .getOrElse(Array.empty)
        override def filter(
            filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
          import org.apache.spark.sql.sources.{EqualTo, In}
          // runtime (DPP) values map to pvals: identity layout takes the
          // value itself; bucket layout hashes it to its bucket id;
          // transform layout projects it through the transform
          // (inclusive — a value of an unexpected type prunes nothing)
          def pvalsOf(vs: Seq[Any]): Option[Set[String]] =
            (bucketLayout, transformLayout) match {
              case (Some((n, _)), _) =>
                if (vs.forall(_.isInstanceOf[java.lang.Long]))
                  Some(vs.map(v => GraftBucketFunction
                    .idOf(n, v.asInstanceOf[java.lang.Long]).toString).toSet)
                else None
              case (None, Some((t, _))) =>
                val ps = vs.map(t.pvalOfLiteral)
                if (ps.forall(_.isDefined)) Some(ps.flatten.toSet) else None
              case _ => Some(vs.map(_.toString).toSet)
            }
          val keyCol = layoutCol.orElse(bucketLayout.map(_._2))
            .orElse(transformLayout.map(_._2))
          val sets = filters.toSeq.flatMap {
            case In(a, vs) if keyCol.exists(_.equalsIgnoreCase(a)) =>
              pvalsOf(vs.filter(_ != null).toSeq)
            case EqualTo(a, v) if keyCol.exists(_.equalsIgnoreCase(a)) && v != null =>
              pvalsOf(Seq(v))
            case _ => None
          }
          if (sets.nonEmpty) runtimePvals = Some(sets.reduce(_ intersect _))
        }
        // the layout IS a partitioning: every manifest partition holds one
        // value of the layout column, so the scan reports key-grouped
        // partitioning and Catalyst can elide the aggregation/join shuffle
        // on that key (storage-partitioned execution)
        override def outputPartitioning()
            : org.apache.spark.sql.connector.read.partitioning.Partitioning =
          bucketLayout.filter { case (_, c) =>
              projected.fieldNames.exists(_.equalsIgnoreCase(c)) } match {
            // BUCKET layout: every input partition is one bucket of
            // `bucket(n, key)` — two such tables join storage-partitioned
            // (the catalog's FunctionCatalog resolves the transform)
            case Some((n, c)) =>
              new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
                Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)),
                batch.planInputPartitions().length)
            case None => layoutCol.filter(projected.fieldNames.contains) match {
              case Some(c) =>
                new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
                  Array(org.apache.spark.sql.connector.expressions.Expressions.identity(c)),
                  batch.planInputPartitions().length)
              case None =>
                new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
            }
          }
      }
    }
  }
}

/** `bucket(n, key)` — the V2 function behind the BUCKET layout
  * (`pmod(xxhash64(key), n)`, the exact expression the write path uses,
  * so the reported partitioning and the physical layout can never
  * disagree). The stable `canonicalName` is what Spark compares when
  * deciding two scans' KeyGroupedPartitionings are compatible — the
  * heart of the shuffle-free bucket join. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  /** The one hash everything shares: write path, reported function, and
    * driver-side pruning probes. */
  def idOf(n: Int, key: Long): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(key, 42L)
    (((h % n) + n) % n).toInt
  }

  /** The same bucket id as a CODEGEN'D Column expression — `xxhash64`
    * (seed 42, the SQL function's default) over the long key, non-negative
    * mod. Every distributed computation of a bucket pval (MoR vector
    * recording, staged-update writes, read-side DV scoping) goes through
    * this so it can never drift from [[idOf]]. */
  def idExpr(n: Int, key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64(key),
      org.apache.spark.sql.functions.lit(n.toLong)).cast("int")
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): pmod(xxhash64(key), n) — manifest bucket layout"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2, "bucket takes (n, key)")
    inputType.fields(1).dataType match {
      case LongType => BucketLong
      case dt => throw new UnsupportedOperationException(
        s"bucket layout supports BIGINT keys, got $dt")
    }
  }

  /** Replays the write path's hash exactly (xxhash64 = XXH64 seed 42 over
    * the long key, non-negative mod) — evaluated by Spark only when it
    * needs a bucket id for a literal; partition alignment itself is by
    * partition-value equality.
    *
    * Also REDUCIBLE (Iceberg's bucket-coalescing trick): when the counts
    * divide, `bucket(kn, key) % n == bucket(n, key)` for this hash, so a
    * `bucket(8)` table joins a `bucket(4)` table storage-partitioned —
    * Spark groups the finer side's partitions through the reducer and
    * neither side shuffles (needs
    * `spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled`). */
  object BucketLong
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]
      with org.apache.spark.sql.connector.catalog.functions
        .ReducibleFunction[Integer, Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer =
      GraftBucketFunction.idOf(input.getInt(0), input.getLong(1))
    /** This side reduces iff the other side is the SAME function with a
      * count that divides ours; null = no reduction from this side. */
    override def reducer(thisNumBuckets: Int,
        otherFunc: org.apache.spark.sql.connector.catalog.functions
          .ReducibleFunction[_, _],
        otherNumBuckets: Int)
        : org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer] =
      if (otherFunc == BucketLong && otherNumBuckets < thisNumBuckets &&
          thisNumBuckets % otherNumBuckets == 0)
        BucketReducer(otherNumBuckets)
      else null
  }

  /** Serializable reducer (it rides the join's partitioning to tasks). */
  final case class BucketReducer(n: Int)
      extends org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer]
      with Serializable {
    override def reduce(id: Integer): Integer = Integer.valueOf(id.intValue % n)
  }
}

/** V2 functions for the NON-bucket layout transforms (`truncate`,
  * `years`/`months`/`days`/`hours`) plus the write-side CLUSTERING that
  * uses them. Purpose: a write into a transform layout must cluster rows
  * by the TRANSFORM VALUE, not the raw column — clustering by
  * `identity(col)` co-locates equal raw values but scatters each
  * partition VALUE across every task (a `truncate(100)` layout then
  * commits tasks × bands small files; ~6000 bands × 32 tasks was a 36 s
  * fixture build). Delta/Iceberg solve small-files exactly here, in the
  * writer's required distribution; the FunctionCatalog resolves these
  * names when Spark converts the requested transform to catalyst form.
  *
  * The bound functions are used ONLY for shuffle hashing of writes —
  * they never decide a pval (the writers' per-row forms do), so the
  * TIMESTAMP time variants may project in UTC regardless of the table's
  * pinned zone: for whole-hour-offset zones the projection is a bijective
  * shift (identical clustering); for minute-offset zones a pval's rows
  * can straddle at most two clusters — still one-or-two files, never
  * tasks × pvals. */
object GraftLayoutFunctions {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Expressions}

  val names: Set[String] = Set("truncate", "years", "months", "days", "hours")

  def unbound(name: String): UnboundFunction = name.toLowerCase match {
    case "truncate" => TruncUnbound
    case k => TimeUnbound(k)
  }

  /** The connector expressions a layout's writes cluster on: one per
    * spec field (multi), the transform value (time/truncate), bucket ids
    * (bucket), the raw value (identity). */
  def clustering(partCol: String, bucketN: Option[Int],
      transform: Option[GraftTransform], multi: Option[GraftSpec])
      : Array[VExpr] = {
    def one(f: GraftField): VExpr = f match {
      case IdentityField(c) => Expressions.identity(c)
      case BucketField(n, c) => Expressions.bucket(n, c)
      case TruncField(w, c) => Expressions.apply("truncate",
        Expressions.literal(Integer.valueOf(w)), Expressions.column(c))
      case TimeField(k, c, _) => Expressions.apply(k, Expressions.column(c))
    }
    multi match {
      case Some(sp) => sp.fields.map(one).toArray
      case None => (bucketN, transform) match {
        case (Some(n), _) => Array(Expressions.bucket(n, partCol))
        case (None, Some(t)) if t.kind == "truncate" =>
          Array(Expressions.apply("truncate",
            Expressions.literal(Integer.valueOf(t.width)),
            Expressions.column(partCol)))
        case (None, Some(t)) =>
          Array(Expressions.apply(t.kind, Expressions.column(partCol)))
        case _ => Array(Expressions.identity(partCol))
      }
    }
  }

  object TruncUnbound extends UnboundFunction {
    override def name(): String = "truncate"
    override def description(): String =
      "truncate(w, v): manifest truncate-layout band of v"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2, "truncate takes (w, v)")
      inputType.fields(1).dataType match {
        case LongType | IntegerType => TruncLong
        case StringType => TruncStr
        case dt => throw new UnsupportedOperationException(
          s"truncate layout over a ${dt.typeName} column")
      }
    }
  }

  /** Iceberg floor semantics — the exact arithmetic of
    * [[GraftTransform.pvalOfLong]]. */
  object TruncLong extends ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = LongType
    override def name(): String = "truncate"
    override def canonicalName(): String = "graft.truncate"
    override def isResultNullable: Boolean = false
    override def produceResult(in: InternalRow): java.lang.Long = {
      val w = in.getInt(0).toLong
      val v = in.getLong(1)
      v - java.lang.Math.floorMod(v, w)
    }
  }

  /** Code-point prefix — the exact semantics of
    * [[GraftTransform.pvalOfString]]. */
  object TruncStr
      extends ScalarFunction[org.apache.spark.unsafe.types.UTF8String] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
    override def resultType(): DataType = StringType
    override def name(): String = "truncate"
    override def canonicalName(): String = "graft.truncate.str"
    override def isResultNullable: Boolean = false
    override def produceResult(in: InternalRow)
        : org.apache.spark.unsafe.types.UTF8String = {
      val w = in.getInt(0)
      val s = in.getUTF8String(1).toString
      org.apache.spark.unsafe.types.UTF8String.fromString(
        if (s.codePointCount(0, s.length) <= w) s
        else s.substring(0, s.offsetByCodePoints(0, w)))
    }
  }

  final case class TimeUnbound(kind: String) extends UnboundFunction {
    require(GraftTransform.timeKinds(kind), s"unknown time kind $kind")
    override def name(): String = kind
    override def description(): String =
      s"$kind(c): manifest time-layout ordinal of c"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1, s"$kind takes one column")
      inputType.fields(0).dataType match {
        case DateType if kind != "hours" => TimeDays(kind)
        case TimestampType => TimeMicros(kind)
        case StringType if kind != "hours" => TimeStr(kind)
        case dt => throw new UnsupportedOperationException(
          s"$kind layout over a ${dt.typeName} column")
      }
    }
  }

  /** Time ordinal of a DATE (internal days since epoch). */
  final case class TimeDays(kind: String)
      extends ScalarFunction[java.lang.Integer] {
    override def inputTypes(): Array[DataType] = Array(DateType)
    override def resultType(): DataType = IntegerType
    override def name(): String = kind
    override def canonicalName(): String = s"graft.$kind.date"
    override def isResultNullable: Boolean = false
    override def produceResult(in: InternalRow): java.lang.Integer = {
      val d = java.time.LocalDate.ofEpochDay(in.getInt(0).toLong)
      kind match {
        case "years" => d.getYear
        case "months" => d.getYear * 12 + d.getMonthValue - 1
        case "days" => in.getInt(0)
      }
    }
  }

  /** Time ordinal of a TIMESTAMP (internal UTC micros) — UTC projection
    * (see the class note: clustering-only, never a pval). */
  final case class TimeMicros(kind: String)
      extends ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(TimestampType)
    override def resultType(): DataType = LongType
    override def name(): String = kind
    override def canonicalName(): String = s"graft.$kind.ts"
    override def isResultNullable: Boolean = false
    override def produceResult(in: InternalRow): java.lang.Long = {
      val m = in.getLong(0)
      kind match {
        case "hours" => java.lang.Math.floorDiv(m, 3600000000L)
        case "days" => java.lang.Math.floorDiv(m, 86400000000L)
        case "months" =>
          val d = java.time.LocalDate.ofEpochDay(
            java.lang.Math.floorDiv(m, 86400000000L))
          (d.getYear * 12 + d.getMonthValue - 1).toLong
        case "years" =>
          java.time.LocalDate.ofEpochDay(
            java.lang.Math.floorDiv(m, 86400000000L)).getYear.toLong
      }
    }
  }

  /** ISO prefix of a STRING time source. */
  final case class TimeStr(kind: String)
      extends ScalarFunction[org.apache.spark.unsafe.types.UTF8String] {
    private val isoLen = kind match {
      case "years" => 4
      case "months" => 7
      case "days" => 10
    }
    override def inputTypes(): Array[DataType] = Array(StringType)
    override def resultType(): DataType = StringType
    override def name(): String = kind
    override def canonicalName(): String = s"graft.$kind.str"
    override def isResultNullable: Boolean = false
    override def produceResult(in: InternalRow)
        : org.apache.spark.unsafe.types.UTF8String = {
      val s = in.getUTF8String(0).toString
      org.apache.spark.unsafe.types.UTF8String.fromString(
        if (s.codePointCount(0, s.length) <= isoLen) s
        else s.substring(0, s.offsetByCodePoints(0, isoLen)))
    }
  }
}

/** The table's DECLARED schema as a table property (`schema` =
  * `name:type,...`) — the canonical read schema once a writer has
  * evolved it. The streaming sink and the batch INSERT stamp the
  * ADDITIVE UNION of the stored schema and each write's schema here, so
  * the catalog serves late-added columns without relying on which file's
  * footer it happens to inspect; the name-resolving reader then nulls
  * the new columns for pre-evolution files. */
private[sources] object ManifestSchemaProp {
  def serialize(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.typeName}").mkString(",")
  def parse(s: String): StructType = StructType(s.split(",").map { p =>
    val Array(n, t) = p.split(":")
    StructField(n, t match {
      case "long" => LongType
      case "integer" => IntegerType
      case "double" => DoubleType
      case "string" => StringType
      case "date" => DateType
      case "timestamp" => TimestampType
      case other => throw new UnsupportedOperationException(
        s"schema property: unsupported type $other for $n")
    })
  })
  /** Union the stored schema with a write's schema, additively: existing
    * columns must keep their type (a retype is a TEAR, refused loudly);
    * new columns append. Returns None when nothing changed. */
  def evolve(spark: org.apache.spark.sql.SparkSession, base: String,
      written: StructType): Option[StructType] =
    ManifestTable.tableProperties(spark, base).get("schema").map(parse) match {
      case None => Some(written)
      case Some(baseline) =>
        written.fields.foreach { f =>
          baseline.fields.find(_.name.equalsIgnoreCase(f.name)).foreach { old =>
            require(old.dataType == f.dataType,
              s"schema evolution under $base is ADDITIVE only: ${f.name} is " +
                s"${old.dataType.typeName}, write carries ${f.dataType.typeName}")
          }
        }
        val added = written.fields.filterNot(f =>
          baseline.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        if (added.isEmpty) None else Some(StructType(baseline.fields ++ added))
    }
  /** Stamp the evolved schema after a successful commit (no-op when the
    * write introduced nothing new and a schema is already stored). */
  def stamp(spark: org.apache.spark.sql.SparkSession, base: String,
      written: StructType): Unit =
    evolve(spark, base, written).foreach(s =>
      ManifestTable.setTableProperty(spark, base, "schema", serialize(s)))
}

/** NAME-MAPPING indirection for `ALTER TABLE ... RENAME/DROP COLUMN` —
  * the field-ID trick (Iceberg name mapping) expressed on plain names so
  * committed footers never rewrite:
  *
  *   - `colmap` property (`logical>physical,...`): each RENAMEd column
  *     maps its current LOGICAL name to the ORIGINAL footer name (chains
  *     resolve at rename time, so the physical name is stable forever).
  *     The reader requests the physical name from old files and falls
  *     back to the logical name for files written after the rename
  *     (connector writers stage logical names).
  *   - `deadcols` property: names DROPPED columns may still carry inside
  *     committed files. A dropped column costs one metadata stamp — the
  *     data stays but is never requested — and re-ADDing any dead name
  *     is refused loudly: a new column under that name would resurrect
  *     the old values from pre-drop files.
  *
  * TIME TRAVEL is CURRENT-SCHEMA (the Delta convention, not Iceberg's
  * snapshot-schema): a `VERSION AS OF` read of a pre-rename snapshot
  * serves the column under its CURRENT logical name (values resolved
  * through the map to the original footer bytes), and never serves a
  * dead column — the schema is a property of the TABLE, versioned by its
  * evolution stamps, while a snapshot pins only the DATA. One schema for
  * all history keeps every downstream view/query valid across renames;
  * pinned in `CatalogEvolutionSpec`. */
private[sources] object ManifestColMap {
  def parse(s: String): Map[String, String] =
    s.split(",").filter(_.contains(">")).map { p =>
      val i = p.indexOf('>')
      (p.substring(0, i), p.substring(i + 1))
    }.toMap
  def serialize(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (l, p) => s"$l>$p" }.mkString(",")
  /** logical → physical (identity entries omitted). */
  def of(spark: org.apache.spark.sql.SparkSession, base: String): Map[String, String] =
    ManifestTable.tableProperties(spark, base).get("colmap")
      .map(parse).getOrElse(Map.empty)
  /** Names that may still appear in committed files with STALE data. */
  def dead(spark: org.apache.spark.sql.SparkSession, base: String): Set[String] =
    ManifestTable.tableProperties(spark, base).get("deadcols")
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Column DEFAULTs as reader-internal values (logical name → Catalyst
    * value): served for fields ABSENT from a file's footer — Iceberg's
    * initial-default. A field present but NULL stays NULL (the writer
    * stored a real null). Evaluated once per scan on the driver. */
  def defaults(spark: org.apache.spark.sql.SparkSession, base: String,
      schema: StructType): Map[String, Any] =
    ManifestTable.tableProperties(spark, base).toSeq.collect {
      case (k, v) if k.startsWith("coldefault.") =>
        (k.stripPrefix("coldefault."), v) }
      .flatMap { case (n, sql) =>
        schema.fields.find(_.name.equalsIgnoreCase(n)).map { f =>
          val row = spark.range(1)
            .select(org.apache.spark.sql.functions.expr(sql)
              .cast(f.dataType).as("v")).head
          f.name -> org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToCatalyst(row.get(0))
        }
      }.toMap
}

/** Driver-side record of every connector scan-planning decision — the
  * spec/pinning hook for file skipping (kept vs total manifest files and
  * whether a runtime filter was applied), without parsing plan strings. */
object ManifestScanEvents {
  final case class PlanEvent(base: String, kept: Int, total: Int,
      runtimeFiltered: Boolean, aggPushed: Boolean = false,
      limitPruned: Boolean = false)
  private val buf = scala.collection.mutable.Buffer[PlanEvent]()
  private[sources] def record(e: PlanEvent): Unit = buf.synchronized {
    buf += e
    // bounded diagnostics: a long-lived session plans many scans
    if (buf.length > 10000) buf.remove(0, buf.length - 10000)
  }
  def recent(base: String): Seq[PlanEvent] =
    buf.synchronized(buf.filter(_.base == base).toSeq)
  def clear(): Unit = buf.synchronized(buf.clear())
}

/** METADATA AGGREGATION — the Iceberg "answer it from the manifests"
  * optimization as a DSv2 `SupportsPushDownAggregates` COMPLETE
  * pushdown: `COUNT(*)`, `MIN(c)`, `MAX(c)` (integral `c` with a stats
  * sidecar at the scanned version), grouped by nothing or by the layout
  * column, are computed ENTIRELY from the manifest + the
  * commit-maintained sidecars on the driver — the scan ships the
  * finished rows and no data page is ever decoded (the connector twin of
  * the parquet footer-only `q_agg_pushdown`). Refused whenever a filter,
  * pending deletion vector, or non-sidecar aggregate is in play — Spark
  * then simply runs the ordinary scan + aggregate. */
private[sources] object ManifestMetaAgg {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate._

  private def fieldName(e: Expression): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
    case _ => None
  }

  private sealed trait Src
  private case object Cnt extends Src
  private final case class Mn(c: String) extends Src
  private final case class Mx(c: String) extends Src
  private final case class Sm(c: String) extends Src

  /** Resolve the aggregation to (output schema, finished rows) if every
    * part is answerable from metadata at the scanned version; None
    * otherwise. Row values use external JVM types (String for strings —
    * converted to UTF8String executor-side). */
  def plan(spark: SparkSession, base: String, versionAsOf: Option[Int],
      layout: Option[String], tableSchema: StructType,
      agg: Aggregation, anyFilters: Boolean): Option[(StructType, Seq[Seq[Any]])] = {
    if (anyFilters) return None
    if (versionAsOf.isEmpty && ManifestTable.pendingDvRels(spark, base).nonEmpty)
      return None // DV-hidden rows would not be discounted
    val v = versionAsOf.getOrElse(ManifestTable.currentVersion(spark, base))
    // grouping: none, or exactly the layout column
    val groupNames = agg.groupByExpressions.toSeq.map(fieldName)
    if (groupNames.exists(_.isEmpty)) return None
    val byLayout = groupNames.flatten match {
      case Seq() => false
      case Seq(g) if layout.exists(_.equalsIgnoreCase(g)) => true
      case _ => return None
    }
    def colField(c: String): Option[StructField] =
      tableSchema.fields.find(_.name.equalsIgnoreCase(c))
    val srcs: Seq[Option[(Src, StructField)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((Cnt, StructField("count", LongType, nullable = false)))
      case m: Min => fieldName(m.column).flatMap(colField).collect {
        case f if f.dataType == LongType || f.dataType == IntegerType =>
          (Mn(f.name), StructField(s"min_${f.name}", f.dataType))
      }
      case m: Max => fieldName(m.column).flatMap(colField).collect {
        case f if f.dataType == LongType || f.dataType == IntegerType =>
          (Mx(f.name), StructField(s"max_${f.name}", f.dataType))
      }
      // SUM is answerable from the per-file sums the sidecar carries —
      // INTEGRAL columns only. This refusal is PERMANENT, not a gap: IEEE
      // addition is non-associative, so a float SUM assembled from
      // per-file partials can differ in the last bits from the row-scan
      // answer depending on file layout — the same query would then
      // change value under OPTIMIZE, and the metadata fast path would
      // disagree with the scan it claims to replace. A compensated
      // (Kahan) per-file sum shrinks but cannot close that gap (the
      // cross-file combine still re-associates). Exactness is the
      // contract of this pushdown; float SUMs take the ordinary scan,
      // which Spark executes with one deterministic plan. Pinned by the
      // "floats and DISTINCT refuse" spec. Spark types sum(int)/
      // sum(long) as LongType, which is exactly the sidecar's arithmetic.
      case s: Sum if !s.isDistinct => fieldName(s.column).flatMap(colField).collect {
        case f if f.dataType == LongType || f.dataType == IntegerType =>
          (Sm(f.name), StructField(s"sum_${f.name}", LongType))
      }
      case _ => None
    }
    if (srcs.exists(_.isEmpty)) return None
    val resolved = srcs.flatten
    val es = ManifestTable.entries(spark, base, v)
    val allRels = es.map(_._2)
    // every Mn/Mx column needs a sidecar covering EVERY file of the
    // snapshot; COUNT(*) needs row counts from any sidecar covering all
    val statsFor: Map[String, Map[String, ManifestTable.Stat]] =
      resolved.collect { case (Mn(c), _) => c; case (Mx(c), _) => c }.distinct.flatMap { c =>
        ManifestTable.readStatsFile(spark, base, v, c)
          .filter(m => allRels.forall(m.contains)).map(c -> _)
      }.toMap
    if (resolved.exists { case (Mn(c), _) => !statsFor.contains(c)
                          case (Mx(c), _) => !statsFor.contains(c)
                          case _ => false }) return None
    // SUM needs the sum field KNOWN for every file (a carried legacy
    // sidecar entry without one refuses the pushdown — "absent" must
    // never read as "zero")
    val sumsFor: Map[String, Map[String, Option[Long]]] =
      resolved.collect { case (Sm(c), _) => c }.distinct.flatMap { c =>
        val m = ManifestTable.readStatsSums(spark, base, v, c)
        if (allRels.forall(m.contains)) Some(c -> m) else None
      }.toMap
    if (resolved.exists { case (Sm(c), _) => !sumsFor.contains(c)
                          case _ => false }) return None
    // row counts are ALWAYS required, even when no COUNT(*) was pushed:
    // a pure group-by pushdown (Spark prunes the aggregate list to
    // nothing under an outer count) still must suppress zero-row groups,
    // and only real per-file counts can decide that
    val counts: Option[Map[String, Long]] =
      ManifestTable.statCols(spark, base, v).view
        .map(c => ManifestTable.readStatsCounts(spark, base, v, c))
        .find(m => allRels.forall(m.contains))
    if (counts.isEmpty) return None
    val layoutField = layout.flatMap(colField)
    if (byLayout && layoutField.isEmpty) return None
    val schemaOut = StructType(
      (if (byLayout) Seq(layoutField.get) else Seq.empty) ++ resolved.map(_._2))
    val groups: Seq[(Option[String], Seq[String])] =
      if (byLayout) es.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (p, fs) => (Some(p), fs.map(_._2)) }
      else Seq((None, allRels))
    val rows = groups.flatMap { case (pvalOpt, rels) =>
      val cnt = rels.map(r => counts.get.getOrElse(r, 0L)).sum
      // a group whose files hold zero rows produces NO row under real
      // GROUP BY semantics; the global (ungrouped) aggregate always does
      if (byLayout && cnt == 0L) None
      else {
        def reduceStats(c: String, takeMin: Boolean): Any = {
          val vs = rels.flatMap(r => statsFor(c).getOrElse(r, None))
            .map(r => if (takeMin) r._1 else r._2)
          if (vs.isEmpty) null
          else {
            val x = if (takeMin) vs.min else vs.max
            colField(c).get.dataType match {
              case IntegerType => Int.box(x.toInt)
              case _ => Long.box(x)
            }
          }
        }
        val key: Seq[Any] = pvalOpt.toSeq.map { p =>
          layoutField.get.dataType match {
            case IntegerType => Int.box(p.toInt)
            case LongType => Long.box(p.toLong)
            case StringType => p
            case dt => throw new UnsupportedOperationException(
              s"metadata aggregate grouped by layout of type $dt")
          }
        }
        Some(key ++ resolved.map {
          case (Cnt, _) => Long.box(cnt)
          case (Mn(c), _) => reduceStats(c, takeMin = true)
          case (Mx(c), _) => reduceStats(c, takeMin = false)
          case (Sm(c), _) =>
            // SUM semantics: NULLs are ignored; all-NULL (every file's
            // sum is None) yields NULL, not 0
            val parts = rels.flatMap(r => sumsFor(c)(r))
            if (parts.isEmpty) null else Long.box(parts.sum)
        })
      }
    }
    Some((schemaOut, rows))
  }
}

/** A scan whose rows were finished at PLANNING time from table metadata
  * (see [[ManifestMetaAgg]]): one input partition shipping the computed
  * aggregate rows, zero data I/O on executors. */
final case class ManifestAggPartition(rows: Seq[Seq[Any]]) extends InputPartition

/** The shared executor face of driver-computed rows: one reader over a
  * [[ManifestAggPartition]]'s external-typed values. */
private[sources] object ManifestLocalRows {
  def readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val it = p.asInstanceOf[ManifestAggPartition].rows.iterator
        private var cur: Seq[Any] = _
        override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
        override def get(): InternalRow = new GenericInternalRow(
          cur.map {
            case s: String => UTF8String.fromString(s)
            case x => x
          }.toArray)
        override def close(): Unit = ()
      }
  }
}

final class ManifestMetaAggScan(aggSchema: StructType, rows: Seq[Seq[Any]],
    base: String, totalFiles: Int) extends Scan {
  override def readSchema(): StructType = aggSchema
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions(): Array[InputPartition] = {
        ManifestScanEvents.record(ManifestScanEvents.PlanEvent(
          base, 0, totalFiles, runtimeFiltered = false, aggPushed = true))
        Array(ManifestAggPartition(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        ManifestLocalRows.readerFactory
    }
}

/** The connector's FILE-skipping decisions, shared by push-down admission
  * (`pushFilters`) and batch planning. All decisions are driver-side
  * metadata reads: the manifest names the partition values, the
  * stats/bloom sidecars are KB-sized per snapshot — no data I/O happens
  * before the surviving files are handed to executors. */
private[sources] object ManifestFileSkipping {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.sources._

  private def numeric(v: Any): Option[Long] = v match {
    case n: java.lang.Byte    => Some(n.longValue)
    case n: java.lang.Short   => Some(n.longValue)
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Long    => Some(n.longValue)
    case _ => None
  }

  /** A pushed TIMESTAMP literal as FLOORED epoch seconds — the unit the
    * auto-indexed instant sidecars store (`cast("long")` on a timestamp).
    * Flooring makes strict bounds unsafe to tighten, so the range fold
    * treats these INCLUSIVELY (over-keep, never lose). */
  private def tsSeconds(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant.getEpochSecond)
    case i: java.time.Instant => Some(i.getEpochSecond)
    case _ => None
  }

  /** (floored long value, exact?) of a literal a stats sidecar can
    * range-compare: integral literals compare exactly (strict bounds may
    * tighten by 1), timestamp literals only inclusively. */
  private def statBound(v: Any): Option[(Long, Boolean)] =
    numeric(v).map((_, true)).orElse(tsSeconds(v).map((_, false)))

  /** Can this filter prune FILES for this table? — it compares the layout
    * column, or ranges a stats-indexed column, or equality-probes a
    * bloom-indexed column (sidecars resolved at the scanned version). */
  def usable(spark: SparkSession, base: String, versionAsOf: Option[Int],
      layout: Option[String], f: Filter): Boolean = {
    val v = versionAsOf.getOrElse(ManifestTable.currentVersion(spark, base))
    usableStem(spark, base, ManifestTable.mainStem(v), layout, f)
  }

  /** [[usable]] against an explicit manifest STEM's sidecars — the form
    * branch scans use (`branch-<name>-v<N>` stems). */
  def usableStem(spark: SparkSession, base: String, stem: String,
      layout: Option[String], f: Filter): Boolean = {
    lazy val stat = ManifestTable.statColsStem(spark, base, stem).map(_.toLowerCase).toSet
    lazy val bloom = ManifestTable.bloomColsStem(spark, base, stem).map(_.toLowerCase).toSet
    // raw-string min/max sidecars (auto-indexed spec source columns):
    // the only range-skipping path for string-partitioned columns
    lazy val sstat = ManifestTable.sstatColsStem(spark, base, stem).map(_.toLowerCase).toSet
    def onLayout(a: String) = layout.exists(_.equalsIgnoreCase(a))
    def sRange(a: String, x: Any) = x.isInstanceOf[String] && sstat(a.toLowerCase)
    f match {
      case EqualTo(a, x) =>
        onLayout(a) || (numeric(x).isDefined && bloom(a.toLowerCase)) ||
          (statBound(x).isDefined && stat(a.toLowerCase)) || sRange(a, x)
      case In(a, _) => onLayout(a)
      case GreaterThan(a, x) => onLayout(a) ||
        (statBound(x).isDefined && stat(a.toLowerCase)) || sRange(a, x)
      case GreaterThanOrEqual(a, x) => onLayout(a) ||
        (statBound(x).isDefined && stat(a.toLowerCase)) || sRange(a, x)
      case LessThan(a, x) => onLayout(a) ||
        (statBound(x).isDefined && stat(a.toLowerCase)) || sRange(a, x)
      case LessThanOrEqual(a, x) => onLayout(a) ||
        (statBound(x).isDefined && stat(a.toLowerCase)) || sRange(a, x)
      case _ => false
    }
  }

  /** Conjunct predicates over the manifest's partition-value STRINGS,
    * derived from pushed filters on the layout column. Numeric layouts
    * compare as longs, string layouts lexically (ASCII pvals). */
  def partitionPredicates(pushed: Seq[Filter], layout: Option[String],
      dt: Option[DataType]): Seq[String => Boolean] = layout match {
    case None => Seq.empty
    case Some(lc) =>
      val longly = dt.exists(d => d == LongType || d == IntegerType)
      def on(a: String) = a.equalsIgnoreCase(lc)
      pushed.flatMap {
        case EqualTo(a, v) if on(a) && v != null => Some((p: String) => p == v.toString)
        case In(a, vs) if on(a) =>
          val s = vs.filter(_ != null).map(_.toString).toSet
          Some((p: String) => s(p))
        case GreaterThan(a, v) if on(a) && longly =>
          numeric(v).map(n => (p: String) => p.toLong > n)
        case GreaterThanOrEqual(a, v) if on(a) && longly =>
          numeric(v).map(n => (p: String) => p.toLong >= n)
        case LessThan(a, v) if on(a) && longly =>
          numeric(v).map(n => (p: String) => p.toLong < n)
        case LessThanOrEqual(a, v) if on(a) && longly =>
          numeric(v).map(n => (p: String) => p.toLong <= n)
        case GreaterThan(a, v) if on(a) && dt.contains(StringType) =>
          Some((p: String) => p > v.toString)
        case GreaterThanOrEqual(a, v) if on(a) && dt.contains(StringType) =>
          Some((p: String) => p >= v.toString)
        case LessThan(a, v) if on(a) && dt.contains(StringType) =>
          Some((p: String) => p < v.toString)
        case LessThanOrEqual(a, v) if on(a) && dt.contains(StringType) =>
          Some((p: String) => p <= v.toString)
        case _ => None
      }
  }

  /** FILE-level skipping through the snapshot's sidecars: each pushed
    * range conjunct on a stats-indexed column keeps only files whose
    * (min, max) intersects it; each equality on a bloom-indexed column
    * keeps only files whose filter might contain the value. Files the
    * sidecar has no entry for are kept (skipping is safe-over). Returns
    * the surviving manifest-relative paths. */
  def fileSurvivors(spark: SparkSession, base: String, v: Int,
      pushed: Seq[Filter], files: Seq[String]): Set[String] =
    fileSurvivorsStem(spark, base, ManifestTable.mainStem(v), pushed, files)

  /** [[fileSurvivors]] against an explicit manifest STEM's sidecars. */
  def fileSurvivorsStem(spark: SparkSession, base: String, stem: String,
      pushed: Seq[Filter], files: Seq[String]): Set[String] = {
    // fold every range filter per column into one [lo, hi] conjunct;
    // integral bounds tighten strict comparisons by 1, timestamp bounds
    // stay inclusive (the sidecar stores floored seconds)
    val ranges = pushed.flatMap {
      case EqualTo(a, x) => statBound(x).map { case (n, _) => a -> (n, n) }
      case GreaterThan(a, x) => statBound(x).map { case (n, ex) =>
        a -> (if (ex) n + 1 else n, Long.MaxValue) }
      case GreaterThanOrEqual(a, x) => statBound(x).map { case (n, _) =>
        a -> (n, Long.MaxValue) }
      case LessThan(a, x) => statBound(x).map { case (n, ex) =>
        a -> (Long.MinValue, if (ex) n - 1 else n) }
      case LessThanOrEqual(a, x) => statBound(x).map { case (n, _) =>
        a -> (Long.MinValue, n) }
      case _ => None
    }.groupBy(_._1).map { case (c, rs) =>
      c -> rs.map(_._2).reduce((r1, r2) =>
        (math.max(r1._1, r2._1), math.min(r1._2, r2._2)))
    }
    var kept = files.toSet
    ranges.foreach { case (c, (lo, hi)) =>
      ManifestTable.readStatsFileStem(spark, base, stem, c).foreach { stats =>
        kept = kept.filter(rel => stats.get(rel) match {
          case Some(Some((mn, mx))) => mx >= lo && mn <= hi
          case Some(None) => false // zero-row / all-NULL file: cannot match
          case None => true        // not indexed (shouldn't happen): keep
        })
      }
    }
    // STRING ranges prune through the raw min/max sidecars
    // (`v<N>.sstats.<col>`, auto-indexed for spec source columns): the
    // escaped pvals deliberately don't order-compare, so this is the
    // ONLY place `>=`/`BETWEEN` on a string-partitioned column skips
    // anything. Bounds compare on the raw strings (Spark's order);
    // strict bounds are treated inclusively — over-keep, never lose.
    def strLit(x: Any): Option[String] = x match {
      case s: String => Some(s)
      case _ => None
    }
    // the sidecar bounds came from Spark's min/max, which orders strings
    // as UTF8String BYTES (= code points) — Java String compareTo orders
    // UTF-16 code units, and the two disagree when supplementary chars
    // mix with U+E000..U+FFFF, so a byte-order comparison here is the
    // only one that can't wrongly skip a matching file
    def cpCmp(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    val strRanges = pushed.flatMap {
      case EqualTo(a, x) => strLit(x).map(s => a -> (Some(s), Some(s)))
      case GreaterThan(a, x) => strLit(x).map(s => a -> (Some(s), None))
      case GreaterThanOrEqual(a, x) => strLit(x).map(s => a -> (Some(s), None))
      case LessThan(a, x) => strLit(x).map(s => a -> (None, Some(s)))
      case LessThanOrEqual(a, x) => strLit(x).map(s => a -> (None, Some(s)))
      case _ => None
    }.groupBy(_._1).map { case (c, rs) =>
      val los = rs.flatMap(_._2._1)
      val his = rs.flatMap(_._2._2)
      c -> (if (los.isEmpty) None else Some(los.reduce((a, b) =>
          if (cpCmp(a, b) >= 0) a else b)),
        if (his.isEmpty) None else Some(his.reduce((a, b) =>
          if (cpCmp(a, b) <= 0) a else b)))
    }
    strRanges.foreach { case (c, (lo, hi)) =>
      ManifestTable.readSStatsFileStem(spark, base, stem, c).foreach { stats =>
        kept = kept.filter(rel => stats.get(rel) match {
          case Some(Some((mn, mx))) =>
            lo.forall(l => cpCmp(mx, l) >= 0) && hi.forall(h => cpCmp(mn, h) <= 0)
          case Some(None) => false // zero-row / all-NULL file: cannot match
          case None => true        // carried pre-index entry: keep
        })
      }
    }
    pushed.foreach {
      case EqualTo(c, x) => numeric(x).foreach { n =>
        ManifestTable.readBloomFileStem(spark, base, stem, c).foreach { case ((m, k), blooms) =>
          kept = kept.filter(rel => blooms.get(rel) match {
            case Some(Some(bits)) => graft.exprs.Bloom.mightContain(bits, m, k, n)
            case Some(None) => false
            case None => true
          })
        }
      }
      case _ => ()
    }
    kept
  }
}

/** One SQL row-level DML statement (UPDATE / MERGE INTO / group-based
  * DELETE) against a manifest table: the SCAN face is the ordinary
  * snapshot scan with a PLANNING RECORDER (the partition values the
  * executed scan ultimately read — shrunk by Spark's runtime group
  * filter through the same SupportsRuntimeFiltering face DPP uses); the
  * WRITE face stages the groups' full new content through the standard
  * per-value writers and commits `carried-cold ++ staged` — replacing
  * exactly the groups that were read, appending into groups that were
  * only inserted into, all under one atomic manifest rename. */
final class ManifestRowLevelOp(table: ManifestStreamTable, base: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    // TRANSFORM layout: the group rewrite's staged files must land under
    // transform pvals (the groups the scan planned ARE transform pvals)
    transform: Option[GraftTransform] = None,
    // MULTI-FIELD spec: staged files land under composite pvals likewise
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  // which partition values the (executed) scan planned, and the snapshot
  // version it planned against; None = the scan never planned — the
  // commit refuses (an unknown read set is never a safe basis for a
  // destructive replace)
  @volatile private[sources] var planned: Option[(Set[String], Int)] = None

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // fileSkipping OFF: this scan's output becomes the planned groups'
    // full new content — a sidecar-skipped carried file would lose rows
    table.scanBuilderRecording(options,
      (pvals, v) => planned = Some((pvals.toSet, v)), fileSkipping = false)
  // requesting the `_pval` metadata column routes Spark's write through
  // the metadata-projecting task — the data writer then receives clean
  // table-schema rows (the internal __row_operation column stripped)
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_pval"))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val spark0 = org.apache.spark.sql.SparkSession.active
    // same fence as every rewrite verb: a group rewrite under pending
    // deletion vectors could permanently apply or re-apply them half-way
    require(ManifestTable.pendingDvRels(spark0, base).isEmpty,
      s"row-level $cmd under $base requires no pending deletion vectors — " +
        "run purgeDeletes first")
    val partCol = ManifestTable.tableProperties(spark0, base).getOrElse("partCol",
      throw new UnsupportedOperationException(
        s"row-level ${cmd} needs the partCol table property under $base"))
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // cluster the rewrite by the LAYOUT VALUE (SQL DML always
          // arrives through the catalog, so transform resolution works):
          // a wide UPDATE on a transform table otherwise stages
          // tasks × pvals files
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              GraftLayoutFunctions.clustering(partCol, None, transform, multi))
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new ManifestReplaceGroups(base, info.schema(), partCol, () => planned,
              transform, multi)
        }
    }
  }
}

/** The REPLACE-GROUPS commit behind a row-level operation: staged files
  * become the new content of every group the operation's scan read;
  * untouched groups carry by reference; a staged group the scan never
  * read (a MERGE's pure inserts) appends. */
final class ManifestReplaceGroups(base: String, schema: StructType,
    partCol: String, planned: () => Option[(Set[String], Int)],
    transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestBatchWriterFactory(base, schema, partCol, None, transform,
      multi)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    val staged = messages.flatMap { case m: ManifestSinkFiles => m.files }.toSeq
    val spark = org.apache.spark.sql.SparkSession.active
    // an unknown read set is NEVER a safe basis for a destructive replace:
    // if the planning recorder never fired, defaulting to replace-all would
    // keep no cold entries and silently shrink the table to the staged
    // files — fail the statement instead (the previous snapshot is intact)
    val (replaced, readV) = planned().getOrElse(throw new IllegalStateException(
      s"row-level write under $base: the operation's scan never planned, so " +
        "the read set (groups to replace) is unknown — refusing to commit"))
    val next = ManifestTable.currentVersion(spark, base) + 1
    val moved = ManifestTable.moveStagedFiles(fs, base, next, staged, "replace")
    // staged rows were computed from the snapshot the scan planned against
    // (readV): the retrying commit rebases over concurrent commits into
    // OTHER groups and fails loudly when a replaced group changed
    ManifestTable.commitRetrying(spark, base, readV, moved, Some(replaced))
    ManifestTable.refreshAllStats(spark, base)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    messages.foreach {
      case m: ManifestSinkFiles =>
        m.files.foreach { case (_, p) => fs.delete(new Path(p), false) }
      case _ =>
    }
  }
}

/** DELTA-based row-level operation (`SupportsDelta`) — the MERGE-ON-READ
  * face of SQL `UPDATE` / `MERGE INTO` / non-translatable `DELETE`,
  * active when the table is stamped `write.mode=merge-on-read` (+
  * `keyCol`). Where the group-based [[ManifestRowLevelOp]] REWRITES every
  * group the scan read, this one ships only the CHANGES: Spark routes
  * each matched row to the writer as a delete/update/insert operation,
  * executors write the deleted (key, partition) pairs as deletion-vector
  * FRAGMENTS and the new/updated rows as staged data files, and one
  * commit lands the vector (version-fenced by its `_cut` sidecar — see
  * [[ManifestTable.updateWhereMoR]]) plus the appended files. An UPDATE
  * of k rows in a billion-row partition costs O(k), not a partition
  * rewrite — the Iceberg/Delta MoR write path, expressed through the
  * public DSv2 delta API. Pending vectors are allowed (the scan applies
  * them in-scan, the new vector stacks); the commit classifies like
  * [[ManifestTable.updateWhereMoR]]: any concurrent vector or change to
  * a deleted-from partition aborts, other commits rebase. */
final class ManifestRowLevelDeltaOp(table: ManifestStreamTable, base: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    keyCol: String, partCol: String,
    // BUCKET layout: staged insert/update copies must land under bucket-id
    // pvals (the vector already records them — `_pval` IS the bucket id)
    bucketN: Option[Int] = None,
    // TRANSFORM layout: staged copies land under transform pvals likewise
    transform: Option[GraftTransform] = None,
    // MULTI-FIELD spec: staged copies land under composite pvals
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {
  @volatile private[sources] var planned: Option[(Set[String], Int)] = None

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.scanBuilderRecording(options,
      (pvals, v) => planned = Some((pvals.toSet, v)))
  // _pval rides as metadata so each delete knows its partition without
  // decoding the partition column — the vector records (key, pval) pairs
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_pval"))
  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(keyCol))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder = {
    // the row schema Spark hands a delta write is the DATA row (insert/
    // update images); strip any metadata column defensively
    val dataSchema = StructType(info.schema().fields
      .filterNot(f => f.name == "_pval" || f.name == "__row_operation"))
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // cluster the delta rows so one partition value lands in ONE
          // task: a wide MoR UPDATE otherwise stages tasks × pvals copy
          // files (and as many DV fragments). A DELETE's delta plan
          // projects only rowId + metadata, so it clusters by the
          // `_pval` metadata column (always set on delete rows — it IS
          // what the vector records). UPDATE/MERGE plans carry the full
          // row image, so the layout transform clusters exactly (SQL DML
          // arrives through the catalog — functions resolve) — but a
          // MERGE's delta MIXES row kinds, and each kind nulls the other
          // kind's clustering input: delete rows carry NULL data columns
          // (transform(null) would hash every WHEN MATCHED DELETE row to
          // ONE task) and insert rows carry a NULL `_pval` (no source
          // file). Clustering on the PAIR (_pval, transform(cols))
          // spreads both: deletes by their recorded pval, inserts by
          // their target transform value, updates co-located by both —
          // and an update that keeps its partition hashes identically to
          // pval-only clustering, so file counts don't regress.
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              if (cmd == org.apache.spark.sql.connector.write
                    .RowLevelOperation.Command.DELETE)
                Array[org.apache.spark.sql.connector.expressions.Expression](
                  org.apache.spark.sql.connector.expressions.Expressions
                    .identity("_pval"))
              else (org.apache.spark.sql.connector.expressions.Expressions
                  .identity("_pval")
                    : org.apache.spark.sql.connector.expressions.Expression) +:
                GraftLayoutFunctions.clustering(partCol, bucketN,
                  transform, multi))
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new ManifestDeltaWrite(base, dataSchema, keyCol, partCol,
              () => planned, bucketN, transform, multi)
        }
    }
  }
}

/** Commit messages of a delta write: staged data files, deletion-vector
  * fragment paths, and the partition values deletes touched. */
final case class ManifestDeltaFiles(files: Seq[(String, String)],
    dvFrags: Seq[String], delPvals: Set[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Test-only observability for delta-write TASK SPREAD: per committed
  * delta, how many writer tasks produced deletes and how many produced
  * copies. Local-mode specs read it to pin that the required clustering
  * actually spreads a mixed MERGE's row kinds (transform(null) hashing
  * every WHEN MATCHED DELETE row to one task is invisible in file
  * counts — each task writes per-pval files either way). Production
  * cost: two integers per commit. */
object ManifestDeltaWriteStats {
  private val q =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
  private[sources] def record(delTasks: Int, copyTasks: Int): Unit =
    q.add((delTasks, copyTasks))
  def drain(): Seq[(Int, Int)] = {
    val b = scala.collection.mutable.Buffer[(Int, Int)]()
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.toSeq
  }
}

final class ManifestDeltaWrite(base: String, rowSchema: StructType,
    keyCol: String, partCol: String,
    planned: () => Option[(Set[String], Int)],
    bucketN: Option[Int] = None, transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  import org.apache.spark.sql.connector.write.{DeltaWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private val dvToken = java.util.UUID.randomUUID.toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new ManifestDeltaWriterFactory(base, rowSchema, keyCol, partCol, dvToken,
      bucketN, transform, multi)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val fs = new Path(base).getFileSystem(new Configuration())
    val msgs = messages.collect { case m: ManifestDeltaFiles => m }.toSeq
    val staged = msgs.flatMap(_.files)
    val frags = msgs.flatMap(_.dvFrags)
    val touched = msgs.flatMap(_.delPvals).toSet
    if (staged.isEmpty && frags.isEmpty) return // nothing matched, no commit
    ManifestDeltaWriteStats.record(msgs.count(_.dvFrags.nonEmpty),
      msgs.count(_.files.nonEmpty))
    val (_, readV) = planned().getOrElse(throw new IllegalStateException(
      s"delta row-level write under $base: the operation's scan never " +
        "planned, so the read snapshot is unknown — refusing to commit"))
    // the version fence pivot: staged copies live at files/v<cut>, the
    // vector hides only rows in files BELOW it (see updateWhereMoR);
    // computed from the ENTRIES, not readV+1 alone — a fastForward can
    // leave files at dir numbers ahead of main's version counter
    val cut = ManifestTable.cutFor(spark, base, readV)
    // pooled moves: a wide delta UPDATE stages one copy-file per
    // (task, pval) — serial renames were a visible share of the commit
    val moved = ManifestTable.moveStagedFiles(fs, base, cut, staged, "delta")
    val rel = s"_dv/d-$dvToken"
    val hasDv = frags.nonEmpty
    if (hasDv) {
      // one fragment landed per writer task — fold them into one file so
      // every later scan opens one, not hundreds (see consolidateDvDir)
      ManifestTable.consolidateDvDir(spark, base, rel)
      val out = fs.create(new Path(base, s"$rel/_partcol"), true)
      try out.write(partCol.getBytes("UTF-8")) finally out.close()
      ManifestTable.writeDvCut(spark, base, rel, cut)
    }
    def cleanup(): Unit = {
      if (hasDv) fs.delete(new Path(base, rel), true)
      moved.foreach { case (_, r) => fs.delete(new Path(base, r), true) }
    }
    var attempt = 0
    while (true) {
      attempt += 1
      val cur = ManifestTable.currentVersion(spark, base)
      if (cur != readV) {
        // same classification as updateWhereMoR: a concurrent vector
        // could hide this write's new rows, a change to a deleted-from
        // partition staleness the recorded keys — both abort; anything
        // else (appends/rewrites elsewhere) rebases
        val newDvs = ManifestTable.dvMarkersAt(spark, base, cur)
          .diff(ManifestTable.dvMarkersAt(spark, base, readV))
        val before = ManifestTable.entries(spark, base, readV)
          .filter { case (p, _) => touched(p) }.toSet
        val now = ManifestTable.entries(spark, base, cur)
          .filter { case (p, _) => touched(p) }.toSet
        if (newDvs.nonEmpty || before != now) {
          cleanup()
          throw new ManifestTable.ConcurrentRewriteException(
            s"delta row-level write under $base: the table changed between " +
              s"read (v$readV) and commit (v$cur) in a way the write cannot " +
              "rebase over — re-run the statement")
        }
      }
      val merged =
        (ManifestTable.dvMarkersAt(spark, base, cur) ++
          (if (hasDv) Seq(rel) else Nil)).map((ManifestTable.DvMarker, _)) ++
          ManifestTable.entries(spark, base, cur) ++ moved
      try {
        ManifestTable.commit(spark, base, cur + 1, merged)
        ManifestTable.refreshAllStats(spark, base)
        return
      } catch {
        case _: ManifestTable.VersionConflictException if attempt < 20 => ()
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    messages.foreach {
      case m: ManifestDeltaFiles =>
        m.files.foreach { case (_, p) => fs.delete(new Path(p), false) }
        m.dvFrags.foreach(p => fs.delete(new Path(p), false))
      case _ =>
    }
  }
}

final class ManifestDeltaWriterFactory(base: String, rowSchema: StructType,
    keyCol: String, partCol: String, dvToken: String,
    bucketN: Option[Int] = None, transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new ManifestDeltaWriter(base, rowSchema, keyCol, partCol, dvToken,
      partitionId, taskId, bucketN, transform, multi)
}

/** Executor-side delta writer: inserts/update-images go through the
  * ordinary staged-file writer; deletes append (key, pval) pairs to this
  * task's deletion-vector FRAGMENT (one parquet file per task inside the
  * shared vector dir — the dir becomes visible only when the driver's
  * commit names its `__dv` marker). */
final class ManifestDeltaWriter(base: String, rowSchema: StructType,
    keyCol: String, partCol: String, dvToken: String,
    partitionId: Int, taskId: Long, bucketN: Option[Int] = None,
    transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.schema.{PrimitiveType, Types, LogicalTypeAnnotation}

  // LAZY: a delete-only delta write (SQL DELETE whose predicate the
  // source-filter translation cannot express) hands the writer a
  // rowId-only schema with no layout columns in it — constructing the
  // data-file writer there would fail fieldIndex(partCol), yet such a
  // write never inserts a row, so the writer must not exist until the
  // first insert/update image actually arrives
  private var innerOpt: Option[ManifestSinkWriter] = None
  private def inner: ManifestSinkWriter = {
    if (innerOpt.isEmpty)
      innerOpt = Some(new ManifestSinkWriter(base, rowSchema, partCol,
        partitionId, taskId, -2L, bucketN, transform, multi))
    innerOpt.get
  }
  private val fragPath = s"$base/_dv/d-$dvToken/frag-p$partitionId-t$taskId.parquet"
  private val dvType = Types.buildMessage()
    .optional(PrimitiveType.PrimitiveTypeName.INT64).named(keyCol)
    .optional(PrimitiveType.PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("__pval")
    .named("graft_dv")
  // local fragments skip the Hadoop checksum-FS layer (same fast path
  // as ManifestSinkWriter — a writer lifecycle is 1.7 ms, not 14.5 ms);
  // same resolved-FS gate (LocalFastPath), never a substring test
  private lazy val dvWriter = {
    val conf = new Configuration()
    val b = LocalFastPath.nioPath(fragPath, conf) match {
      case Some(nio) =>
        nio.getParent.toFile.mkdirs()
        ExampleParquetWriter.builder(
          new org.apache.parquet.io.LocalOutputFile(nio))
      case None => ExampleParquetWriter.builder(new Path(fragPath))
    }
    b.withConf(conf).withType(dvType).build()
  }
  private val dvFactory = new SimpleGroupFactory(dvType)
  private var wroteDv = false
  private val delPvals = scala.collection.mutable.Set[String]()

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val pval = meta.getUTF8String(0).toString
    val g = dvFactory.newGroup()
    g.add(keyCol, id.getLong(0))
    g.add("__pval", pval)
    dvWriter.write(g)
    wroteDv = true
    delPvals += pval
  }
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }
  override def insert(row: InternalRow): Unit = inner.write(row)

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (wroteDv) dvWriter.close()
    val files = innerOpt
      .map(_.commit().asInstanceOf[ManifestSinkFiles].files)
      .getOrElse(Seq.empty)
    ManifestDeltaFiles(files,
      if (wroteDv) Seq(fragPath) else Seq.empty, delPvals.toSet)
  }
  override def abort(): Unit = {
    innerOpt.foreach(_.abort())
    if (wroteDv) {
      scala.util.Try(dvWriter.close())
      new Path(base).getFileSystem(new Configuration())
        .delete(new Path(fragPath), false)
    }
  }
  override def close(): Unit = ()
}

/** Translate the v1 source filters a SQL DELETE pushes into `Column`
  * predicates over the table's columns. None = untranslatable (the
  * delete is refused whole, never half-applied). */
private[sources] object ManifestDeleteSql {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(not)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** Catalog plugin (the fifth Spark extension point in the engine, after
  * expressions, physical operators, optimizer rules, and the DSv2
  * connector): a `TableCatalog` exposing every manifest table under a
  * root directory to plain SQL —
  *
  *   spark.sql.catalog.graft_cat = graft.sources.ManifestCatalog
  *   spark.sql.catalog.graft_cat.root = /path/with/tables
  *   CREATE TABLE graft_cat.`t` (...) PARTITIONED BY (c)
  *   INSERT INTO / SELECT / DELETE FROM / TRUNCATE / ALTER ADD COLUMN /
  *   DROP TABLE graft_cat.`t`
  *
  * `loadTable` serves the stored `schema` property (stamped by CREATE
  * and by evolving writers) or infers from a committed footer, over the
  * same connector Table — SQL reads get snapshot isolation, `versionAsOf`
  * via read options, and column pruning for free; DML routes through
  * the transactional verbs (INSERT = APPEND commit, DELETE = the
  * copy-on-write rewrite). RENAME is the one refusal (paths are table
  * identity). */
class ManifestCatalog
    extends org.apache.spark.sql.connector.catalog.CatalogPlugin
    with org.apache.spark.sql.connector.catalog.TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}

  /** SQL-callable maintenance: `CALL <cat>.system.<proc>(...)` (the bare
    * `CALL <cat>.<proc>(...)` form works too). The procedures ARE the
    * table verbs — see [[ManifestProcedures]]. */
  private def procNamespaceOk(ns: Array[String]): Boolean =
    ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("system"))
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (procNamespaceOk(namespace))
      ManifestProcedures.names.toSeq.sorted
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    if (procNamespaceOk(ident.namespace) &&
        ManifestProcedures.names.contains(ident.name.toLowerCase))
      ManifestProcedures.load(root, ident.name.toLowerCase)
    else throw new UnsupportedOperationException(
      s"unknown procedure $ident — supported: CALL $catName.system.{" +
        ManifestProcedures.names.toSeq.sorted.mkString(", ") + "}")

  /** The catalog's V2 functions: `bucket(n, key)` (the layout transform
    * BUCKET-partitioned tables report — resolving it is what lets two
    * bucket-layout tables join storage-partitioned) and the time/truncate
    * layout transforms ([[GraftLayoutFunctions]] — resolved when a write
    * requests clustering by the transform value). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      ("bucket" +: GraftLayoutFunctions.names.toSeq.sorted)
        .map(n => Identifier.of(Array.empty, n)).toArray
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name.equalsIgnoreCase("bucket"))
      GraftBucketFunction
    else if (ident.namespace.isEmpty &&
        GraftLayoutFunctions.names(ident.name.toLowerCase))
      GraftLayoutFunctions.unbound(ident.name)
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private var root: String = _
  private var catName: String = _
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.root")
  }
  override def name(): String = catName
  override def defaultNamespace(): Array[String] = Array.empty
  // CHECK constraints and column DEFAULTs route through alterTable;
  // without these capabilities Spark refuses the DDL before the catalog
  // ever sees it
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def fs = new Path(root).getFileSystem(new Configuration())
  private def baseOf(ident: Identifier): String = {
    require(ident.namespace().isEmpty, s"flat catalog: unexpected namespace in $ident")
    s"$root/${ident.name()}"
  }

  /** A table EXISTS once a manifest version is committed — the commit
    * rename is the visibility point. A `_manifests` dir holding only the
    * property file (a CREATE that crashed before its v1 commit) is not
    * yet a table; re-running CREATE completes it. */
  private def hasCommitted(base: String): Boolean = {
    val g = fs.globStatus(new Path(base, "_manifests/v*.manifest"))
    g != null && g.nonEmpty
  }
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val r = new Path(root)
    if (!fs.exists(r)) Array.empty
    else fs.listStatus(r).toSeq
      .filter(s => s.isDirectory && hasCommitted(s.getPath.toString))
      .map(s => Identifier.of(Array.empty, s.getPath.getName)).toArray
  }
  override def tableExists(ident: Identifier): Boolean =
    hasCommitted(baseOf(ident))

  /** The schema a table under `base` serves: the `schema` property
    * (stamped by evolving writers — authoritative for the column UNION)
    * beats footer inference; without it, the LAST manifest entry is the
    * newest file (manifests append new files after carried ones), so
    * additive evolution surfaces late-added columns there and the
    * name-resolving reader nulls them for old files. */
  private def servedSchemaOf(base: String): StructType = {
    val spark = org.apache.spark.sql.SparkSession.active
    val mdir = new Path(base, "_manifests")
    val v = fs.listStatus(mdir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }.max
    val p = new Path(mdir, s"v$v.manifest")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val raw = ManifestTable.tableProperties(spark, base).get("schema")
      .map(ManifestSchemaProp.parse).getOrElse {
        val last = text.split("\n").filter(_.nonEmpty)
          .filterNot(_.startsWith(ManifestTable.DvMarker + "\t")).last
        val rel = last.substring(last.indexOf('\t') + 1)
        val abs = if (rel.startsWith("/") || rel.contains("://")) rel else s"$base/$rel"
        spark.read.parquet(abs).schema
      }
    // column DEFAULTs ride the schema as Spark's standard default
    // metadata: CURRENT_DEFAULT lets an INSERT omit the column (Spark
    // fills it), EXISTS_DEFAULT documents what absent fields serve
    val defaults = ManifestTable.tableProperties(spark, base).collect {
      case (k, v) if k.startsWith("coldefault.") =>
        (k.stripPrefix("coldefault."), v) }
    if (defaults.isEmpty) raw
    else StructType(raw.fields.map { f =>
      defaults.get(f.name) match {
        case Some(sql) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", sql).build())
        case None => f
      }
    })
  }

  override def loadTable(ident: Identifier): org.apache.spark.sql.connector.catalog.Table = {
    // METADATA TABLES (the Iceberg `.history`/`.files` convention, spelt
    // with `$` since dots nest namespaces in SQL): `t$history`,
    // `t$partitions`, `t$files` ship driver-computed manifest rows;
    // `t$changes_<v1>_<v2>` is a DISTRIBUTED batch read of the change
    // feed between two snapshots (Delta's table_changes)
    val nm = ident.name()
    val di = nm.indexOf('$')
    if (di > 0) {
      require(ident.namespace().isEmpty, s"flat catalog: unexpected namespace in $ident")
      val mbase = s"$root/${nm.substring(0, di)}"
      if (!hasCommitted(mbase))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      return ManifestMetaTables.forSpec(mbase, nm, nm.substring(di + 1),
        () => servedSchemaOf(mbase))
    }
    val base = baseOf(ident)
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val spark = org.apache.spark.sql.SparkSession.active
    val props = ManifestTable.tableProperties(spark, base)
    val served = servedSchemaOf(base)
    // a merge-on-read table's key column serves NON-NULLABLE: the delta
    // row-level path requires a non-null row ID (Spark refuses nullable
    // row-ID attributes), and the MoR contract already demands non-null
    // keys — the deletion-vector joins identify rows by them
    val keyed = props.get("keyCol") match {
      case Some(k) if props.get("write.mode").contains("merge-on-read") =>
        StructType(served.fields.map(f =>
          if (f.name.equalsIgnoreCase(k)) f.copy(nullable = false) else f))
      case _ => served
    }
    // the stored partCol property doubles as the reported key-grouped
    // layout, so catalog SQL can run storage-partitioned (shuffle-free)
    // aggregations and joins on it. A `bucket.n` property makes the
    // layout bucket(n, partCol) instead: pvals are bucket ids, so the
    // identity-value machinery stays off and the scan reports the bucket
    // transform
    val bucketLayout = props.get("bucket.n").flatMap(n =>
      props.get("partCol").map(c => (n.toInt, c)))
    // a transform layout's pvals are transform values, so the identity
    // machinery (value pruning, DPP, key-grouped-by-value) stays off and
    // the scan prunes raw-column predicates through the transform instead
    val transformLayout = GraftTransform.fromProps(props).flatMap(t =>
      props.get("partCol").map(c => (t, c)))
    // a MULTI-FIELD spec governs the table: the legacy single-field
    // machinery stays off the scan (its properties describe only the
    // pre-evolution entries, folded into the spec's keep predicate)
    val multiLayout = GraftSpec.fromProps(props)
    new ManifestStreamTable(keyed, base, None,
      if (bucketLayout.isDefined || transformLayout.isDefined ||
          multiLayout.isDefined) None
      else props.get("partCol"),
      bucketLayout = if (multiLayout.isDefined) None else bucketLayout,
      transformLayout = if (multiLayout.isDefined) None else transformLayout,
      multiLayout = multiLayout, fromCatalog = true)
  }

  /** SQL time travel: `SELECT ... FROM graft_cat.\`t\` VERSION AS OF 2`
    * resolves through this overload; the connector table pins the
    * snapshot by injecting the version as its default read option. A
    * NON-NUMERIC version string is a TAG name (`VERSION AS OF 'audited'`)
    * and resolves through the table's immutable refs. */
  override def loadTable(ident: Identifier, version: String)
      : org.apache.spark.sql.connector.catalog.Table = {
    val t = loadTable(ident).asInstanceOf[ManifestStreamTable]
    version.toIntOption match {
      case Some(v) => t.withVersion(v)
      case None =>
        val spark = org.apache.spark.sql.SparkSession.active
        val base = baseOf(ident)
        ManifestTable.tagVersion(spark, base, version) match {
          case Some(v) => t.withVersion(v)
          case None => throw new IllegalArgumentException(
            s"VERSION AS OF '$version': no tag named '$version' on " +
              s"${ident.name} — tags: " +
              ManifestTable.listTags(spark, base).map(_._1).mkString("[", ", ", "]"))
        }
    }
  }

  /** SQL `TIMESTAMP AS OF`: resolves to the LAST version whose commit
    * rename happened at or before the timestamp (the rename IS the
    * commit instant, so the manifest file's mtime is the commit time —
    * exactly Delta's resolution rule). A timestamp before the first
    * commit refuses with the valid range. Spark passes MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long)
      : org.apache.spark.sql.connector.catalog.Table = {
    val base = baseOf(ident)
    val t = loadTable(ident).asInstanceOf[ManifestStreamTable]
    val tsMillis = timestampMicros / 1000L
    val spark = org.apache.spark.sql.SparkSession.active
    val committed = ManifestTable.versions(spark, base).map { v =>
      v -> fs.getFileStatus(new Path(base, s"_manifests/v$v.manifest"))
        .getModificationTime
    }
    val at = committed.filter(_._2 <= tsMillis).map(_._1).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(tsMillis)} predates " +
          s"the first commit of ${ident.name} " +
          s"(${java.time.Instant.ofEpochMilli(committed.map(_._2).min)})"))
    t.withVersion(at)
  }

  /** SQL `CREATE TABLE graft_cat.\`t\` (...) PARTITIONED BY (c)`: one
    * identity partition transform becomes the table's `partCol` property
    * (the layout every verb and the key-grouped report use), the schema
    * is stamped as the `schema` property (the empty v1 snapshot has no
    * footers to infer from), and v1 commits as an EMPTY manifest through
    * the usual atomic rename — after which INSERT INTO / DELETE FROM /
    * SELECT all work on the brand-new table. */
  /** One V2 transform of a MULTI-FIELD spec as a [[GraftField]]. */
  private def fieldOfTransform(t: Transform): GraftField = {
    def srcCol: String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames.length == 1,
        s"spec field needs exactly one source column, got $t")
      refs(0).fieldNames()(0)
    }
    def intArg(what: String): Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
        if l.dataType() == IntegerType => l.value().asInstanceOf[Int]
    }.getOrElse(throw new IllegalArgumentException(
      s"${t.name()} needs an integer $what, got $t"))
    t.name() match {
      case "identity" => IdentityField(srcCol)
      case "bucket" =>
        val n = intArg("bucket count")
        require(n > 0, s"bucket count must be positive, got $n")
        BucketField(n, srcCol)
      case "truncate" =>
        val w = intArg("width")
        require(w > 0, s"truncate width must be positive, got $w")
        TruncField(w, srcCol)
      case k if GraftTransform.normalizeKind(k)
          .exists(GraftTransform.timeKinds) =>
        TimeField(GraftTransform.normalizeKind(k).get, srcCol)
      case other => throw new UnsupportedOperationException(
        s"unsupported spec field transform $other (identity, bucket, " +
          "months/days/years, truncate)")
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val base = baseOf(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    // one identity transform (value layout), one bucket transform
    // (`PARTITIONED BY (bucket(n, key))` — hash layout for shuffle-free
    // bucket joins), or one TIME/TRUNCATE transform (`months(d)` /
    // `days(d)` / `years(d)` / `truncate(w, c)` — Iceberg-style hidden
    // partitioning; see [[GraftTransform]]); (partCol, bucket count,
    // transform spec)
    val (partCol, bucketN, transformSpec, multiSpec) = partitions.toSeq match {
      case Seq(t) if t.name() == "identity" =>
        val refs = t.references()
        require(refs.length == 1 && refs(0).fieldNames.length == 1,
          s"manifest tables take exactly one identity partition column, got $t")
        (refs(0).fieldNames()(0), None, None, None)
      case Seq(t) if t.name() == "bucket" =>
        val refs = t.references()
        require(refs.length == 1 && refs(0).fieldNames.length == 1,
          s"bucket transform needs exactly one key column, got $t")
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.dataType() == IntegerType => l.value().asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform needs an integer bucket count, got $t"))
        require(n > 0, s"bucket count must be positive, got $n")
        require(schema.fields.find(_.name.equalsIgnoreCase(refs(0).fieldNames()(0)))
            .exists(_.dataType == LongType),
          "bucket layout supports BIGINT keys only")
        (refs(0).fieldNames()(0), Some(n), None, None)
      case Seq(t) if GraftTransform.normalizeKind(t.name()).isDefined =>
        val kind = GraftTransform.normalizeKind(t.name()).get
        val refs = t.references()
        require(refs.length == 1 && refs(0).fieldNames.length == 1,
          s"${t.name()} transform needs exactly one source column, got $t")
        val c = refs(0).fieldNames()(0)
        val width =
          if (kind != "truncate") 0
          else t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType() == IntegerType => l.value().asInstanceOf[Int]
          }.getOrElse(throw new IllegalArgumentException(
            s"truncate transform needs an integer width, got $t"))
        val dt = schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
          .getOrElse(throw new IllegalArgumentException(
            s"transform source column $c not in the table schema"))
        if (dt == TimestampNTZType)
          throw new UnsupportedOperationException(
            s"${t.name()} over a TIMESTAMP_NTZ column is not supported — " +
              "manifest tables store instants (TIMESTAMP) or zone-free " +
              "DATEs; declare the column TIMESTAMP or DATE")
        require(GraftTransform.accepts(kind, dt),
          s"${t.name()} transform over a ${dt.typeName} column is not " +
            "supported (time transforms take DATE, ISO-8601 STRING, or " +
            "TIMESTAMP; hours takes TIMESTAMP only; truncate takes " +
            "BIGINT/INT/STRING)")
        // TIMESTAMP sources pin the wall-clock projection zone AT CREATE
        // (`TBLPROPERTIES ('transform.zone'='<zone>')`, default UTC): the
        // instant → partition mapping is a property of the TABLE, never
        // the session — a reader in any zone prunes what the writer
        // wrote. Validated here so a typo refuses the CREATE, not the
        // first INSERT.
        val zone =
          if (dt == TimestampType) {
            val z = Option(properties.get("transform.zone")).getOrElse("UTC")
            java.time.ZoneId.of(z)
            z
          } else ""
        (c, None, Some(GraftTransform(kind, width, zone)), None)
      case many if many.length >= 2 =>
        // MULTI-FIELD spec (Iceberg's PARTITIONED BY (months(ts),
        // bucket(16, key))): conjunctive pruning across the fields,
        // composite self-describing pvals — see [[GraftSpec]]
        val fields0 = many.map(fieldOfTransform)
        require(fields0.map(_.col.toLowerCase).distinct.size == fields0.size,
          "multi-field spec: one field per source column")
        // TIMESTAMP time fields pin the projection zone INTO THE FIELD at
        // CREATE (from `transform.zone`, default UTC, validated here) —
        // the era-history serialization then carries the writer's zone
        // through every later evolution, so pre-evolution pruning always
        // projects as the writer wrote
        val fields = fields0.map {
          case tf: TimeField
              if schema.fields.exists(f => f.name.equalsIgnoreCase(tf.col) &&
                f.dataType == TimestampType) && tf.zone.isEmpty =>
            val z = Option(properties.get("transform.zone")).getOrElse("UTC")
            java.time.ZoneId.of(z)
            tf.copy(zone = z)
          case f => f
        }
        fields.foreach { f =>
          val dt = schema.fields.find(_.name.equalsIgnoreCase(f.col))
            .map(_.dataType).getOrElse(throw new IllegalArgumentException(
              s"spec field ${f.ser}: source column not in the table schema"))
          if (dt == TimestampNTZType)
            throw new UnsupportedOperationException(
              s"spec field ${f.ser} over a TIMESTAMP_NTZ column is not " +
                "supported — manifest tables store instants (TIMESTAMP) " +
                "or zone-free DATEs")
          require(GraftSpec.accepts(f, dt),
            s"spec field ${f.ser} over a ${dt.typeName} column is not " +
              "supported in a multi-field spec (DATE/TIMESTAMP for time " +
              "fields — hours takes TIMESTAMP only; BIGINT for bucket, " +
              "BIGINT/INT/STRING for identity and truncate)")
        }
        (fields.head.col, None, None, Some(GraftSpec(1, fields)))
      case other => throw new UnsupportedOperationException(
        "manifest tables need exactly one PARTITIONED BY transform " +
          "(identity, bucket, months/days/years, or truncate) or a " +
          s"multi-field spec of them, got $other")
    }
    require(schema.fieldNames.exists(_.equalsIgnoreCase(partCol)),
      s"partition column $partCol not in the table schema")
    val spark = org.apache.spark.sql.SparkSession.active
    // validate the declared types round-trip through the property store
    // NOW — an unsupported column type must refuse the CREATE, not the
    // first read
    ManifestSchemaProp.parse(ManifestSchemaProp.serialize(schema))
    // CREATE-time column DEFAULTs would be silently dropped by the
    // property round-trip (metadata doesn't serialize) — refuse loudly;
    // ALTER TABLE ADD COLUMN ... DEFAULT after the CREATE is supported
    schema.fields.filter(_.metadata.contains("CURRENT_DEFAULT")).foreach { f =>
      throw new UnsupportedOperationException(
        s"CREATE TABLE with a column DEFAULT (${f.name}) is not supported " +
          "on manifest tables — ALTER TABLE ... ADD COLUMN ... DEFAULT " +
          "after the CREATE instead")
    }
    // properties FIRST, the v1 manifest commit LAST: the commit rename is
    // the table's visibility point ([[tableExists]] requires a committed
    // manifest), so a crash between the steps leaves an invisible,
    // re-creatable stub — never a created-but-unreadable table whose
    // empty snapshot lacks its schema property
    ManifestTable.setTableProperty(spark, base, "partCol", partCol)
    bucketN.foreach(n =>
      ManifestTable.setTableProperty(spark, base, "bucket.n", n.toString))
    transformSpec.foreach { t =>
      ManifestTable.setTableProperty(spark, base, "transform.kind", t.kind)
      if (t.kind == "truncate")
        ManifestTable.setTableProperty(spark, base, "transform.width",
          t.width.toString)
      if (t.zone.nonEmpty)
        ManifestTable.setTableProperty(spark, base, "transform.zone", t.zone)
    }
    multiSpec.foreach { sp =>
      ManifestTable.setTableProperty(spark, base, "spec.id", sp.id.toString)
      ManifestTable.setTableProperty(spark, base, "spec.fields", sp.ser)
      // the pinned zone also lands as the table property so a later
      // evolve_spec stamps the SAME zone onto its new time fields
      sp.fields.collectFirst { case tf: TimeField if tf.zone.nonEmpty =>
        tf.zone }.foreach(z =>
        ManifestTable.setTableProperty(spark, base, "transform.zone", z))
    }
    ManifestTable.setTableProperty(spark, base, "schema",
      ManifestSchemaProp.serialize(schema))
    ManifestTable.commit(spark, base, 1, Seq.empty)
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD / RENAME / DROP COLUMN` — all three as PURE
    * METADATA stamps; no committed file ever rewrites:
    *
    *   - ADD appends to the stored schema; the name-resolving reader
    *     nulls the new column for old files (the writer-driven evolution
    *     path). Re-adding a DROPPED name is refused: old files still
    *     carry that column, and serving it would resurrect stale values.
    *   - RENAME records `new-logical > original-footer-name` in the
    *     `colmap` property ([[ManifestColMap]]); old files serve the
    *     column under its physical name, post-rename writes under the
    *     logical one, and the per-file reader resolves both. Renaming
    *     the layout column follows it through the `partCol` property
    *     (manifest partition values are name-free strings — unaffected).
    *   - DROP removes the column from the served schema and marks its
    *     names dead. The layout column cannot drop (it IS the table's
    *     physical organization).
    *
    * Rename/drop are fenced from pending deletion vectors like every
    * rewrite verb — a DV names data columns recorded at delete time. */
  override def alterTable(ident: Identifier, changes: TableChange*)
      : org.apache.spark.sql.connector.catalog.Table = {
    val spark = org.apache.spark.sql.SparkSession.active
    val base = baseOf(ident)
    def curSchema: StructType =
      ManifestTable.tableProperties(spark, base).get("schema")
        .map(ManifestSchemaProp.parse)
        .getOrElse(loadTable(ident).asInstanceOf[ManifestStreamTable].schema())
    def stampSchema(s: StructType): Unit = {
      // unsupported column types refuse the ALTER, not the next read
      ManifestSchemaProp.parse(ManifestSchemaProp.serialize(s))
      ManifestTable.setTableProperty(spark, base, "schema",
        ManifestSchemaProp.serialize(s))
    }
    def fenceDv(verb: String): Unit =
      require(ManifestTable.pendingDvRels(spark, base).isEmpty,
        s"$verb under $base requires no pending deletion vectors — run purgeDeletes first")
    // a name is UNAVAILABLE if old footers may still carry data under it:
    // dead (DROPPED) names, and the PHYSICAL (original footer) names of
    // RENAMEd columns — the per-file reader prefers a footer's own field,
    // so introducing either would silently serve pre-rename/pre-drop bytes
    // `exceptOf`: the column being renamed may return to its OWN physical
    // name (that footer data IS its data — the indirection just drops)
    def refuseShadowedName(name: String, verb: String,
        exceptOf: Option[String] = None): Unit = {
      require(!ManifestColMap.dead(spark, base).exists(_.equalsIgnoreCase(name)),
        s"column name $name was DROPPED from this table: committed files " +
          "still carry it, and reusing the name would resurrect their " +
          "stale values — use a new name")
      val shadowing = (ManifestColMap.of(spark, base) -- exceptOf.toSeq).values
      require(!shadowing.exists(_.equalsIgnoreCase(name)),
        s"$verb $name refused: a RENAMEd column's data still lives under " +
          s"that name in committed footers — the reader would serve the " +
          "old column's bytes for the new one; use a different name")
    }
    changes.foreach {
      case add: org.apache.spark.sql.connector.catalog.TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "manifest tables support top-level ADD COLUMN only")
        val name = add.fieldNames()(0)
        val cur = curSchema
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column $name already exists")
        refuseShadowedName(name, "ADD COLUMN")
        // `ADD COLUMN ... DEFAULT <lit>`: the default is a metadata stamp
        // like the column itself — committed files serve it for the
        // ABSENT field (Iceberg's initial-default), new files store real
        // values, and INSERTs omitting the column fill it Spark-side from
        // the served schema's default metadata
        Option(add.defaultValue()).foreach { dv =>
          val sql = dv.getSql
          require(sql != null && sql.nonEmpty,
            "column DEFAULT needs a literal SQL form")
          // must be a constant-foldable literal of the column's type —
          // evaluated once NOW, so a bad default refuses the DDL
          val lit = org.apache.spark.sql.functions.expr(sql).cast(add.dataType())
          spark.range(1).select(lit).head // evaluates; throws on non-literal
          ManifestTable.setTableProperty(spark, base, s"coldefault.$name", sql)
        }
        stampSchema(StructType(cur.fields :+ StructField(name, add.dataType)))
      case rn: org.apache.spark.sql.connector.catalog.TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "manifest tables support top-level RENAME COLUMN only")
        fenceDv("RENAME COLUMN")
        val to = rn.newName()
        val cur = curSchema
        // canonicalize to the schema's exact field name: colmap storage
        // and the per-file reader resolve EXACT names, so a case-variant
        // `from` (possible via the programmatic API) must not record a
        // physical name no footer will ever match
        val from = cur.fields.map(_.name)
          .find(_.equalsIgnoreCase(rn.fieldNames()(0)))
          .getOrElse(throw new IllegalArgumentException(
            s"no column ${rn.fieldNames()(0)} to rename"))
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column $to already exists")
        refuseShadowedName(to, "RENAME COLUMN to", exceptOf = Some(from))
        val cm = ManifestColMap.of(spark, base)
        // chains resolve NOW: the map always points at the original
        // footer name, whatever the column was called in between
        val physical = cm.getOrElse(from, from)
        val next = (cm - from) ++
          (if (to == physical) Map.empty[String, String] else Map(to -> physical))
        ManifestTable.setTableProperty(spark, base, "colmap",
          ManifestColMap.serialize(next))
        stampSchema(StructType(cur.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)))
        // a column default follows its rename
        ManifestTable.tableProperties(spark, base).get(s"coldefault.$from")
          .foreach { d =>
            ManifestTable.setTableProperty(spark, base, s"coldefault.$to", d)
            ManifestTable.removeTableProperty(spark, base, s"coldefault.$from")
          }
        // the layout column follows its rename (pvals are name-free)
        if (ManifestTable.tableProperties(spark, base)
            .get("partCol").exists(_.equalsIgnoreCase(from)))
          ManifestTable.setTableProperty(spark, base, "partCol", to)
      case del: org.apache.spark.sql.connector.catalog.TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "manifest tables support top-level DROP COLUMN only")
        fenceDv("DROP COLUMN")
        val cur = curSchema
        // canonical exact name, same reason as RENAME: deadcols must name
        // the strings footers actually carry
        val name = cur.fields.map(_.name)
          .find(_.equalsIgnoreCase(del.fieldNames()(0)))
          .getOrElse(throw new IllegalArgumentException(
            s"no column ${del.fieldNames()(0)} to drop"))
        require(!ManifestTable.tableProperties(spark, base)
            .get("partCol").exists(_.equalsIgnoreCase(name)),
          s"cannot drop the layout column $name")
        val cm = ManifestColMap.of(spark, base)
        val physical = cm.getOrElse(name, name)
        // both names the column ever had in files become dead
        val dead = ManifestColMap.dead(spark, base) + physical + name
        ManifestTable.setTableProperty(spark, base, "deadcols",
          dead.toSeq.sorted.mkString(","))
        ManifestTable.setTableProperty(spark, base, "colmap",
          ManifestColMap.serialize(cm - name))
        ManifestTable.tableProperties(spark, base).get(s"coldefault.$name")
          .foreach(_ => ManifestTable.removeTableProperty(
            spark, base, s"coldefault.$name"))
        stampSchema(StructType(cur.fields.filterNot(_.name == name)))
      case ac: org.apache.spark.sql.connector.catalog.TableChange.AddConstraint =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            val sql = c.predicateSql()
            require(sql != null && sql.nonEmpty,
              "CHECK constraint needs a SQL predicate")
            require(!ManifestTable.tableProperties(spark, base)
                .contains(s"constraint.${c.name()}"),
              s"constraint ${c.name()} already exists")
            // ADD CONSTRAINT validates the COMMITTED data first (one scan
            // through this catalog, so evolution/DVs apply) — a table
            // whose history already violates refuses the constraint
            // rather than serving a lie. CHECK semantics: NULL passes;
            // a violation is a row where the predicate is FALSE.
            val bad = spark.sql(
              s"SELECT count(*) FROM $catName.`${ident.name}` WHERE NOT ($sql)")
              .head.getLong(0)
            require(bad == 0,
              s"cannot ADD CONSTRAINT ${c.name()}: $bad committed row(s) " +
                s"violate CHECK ($sql)")
            ManifestTable.setTableProperty(spark, base,
              s"constraint.${c.name()}", sql)
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are enforceable on a manifest table; " +
              s"refusing ${other.toDDL} (PRIMARY KEY / UNIQUE / FOREIGN KEY " +
              "cannot be enforced without a global index)")
        }
      case dc: org.apache.spark.sql.connector.catalog.TableChange.DropConstraint =>
        val key = s"constraint.${dc.name()}"
        val had = ManifestTable.tableProperties(spark, base).contains(key)
        if (!had && !dc.ifExists())
          throw new IllegalArgumentException(
            s"no constraint ${dc.name()} on ${ident.name}")
        if (had) ManifestTable.removeTableProperty(spark, base, key)
      case other => throw new UnsupportedOperationException(
        s"unsupported table change for manifest tables: $other")
    }
    loadTable(ident)
  }

  /** `DROP TABLE`: delete the table directory (manifests, sidecars,
    * data) — true iff it existed. A clone's borrowed files live under
    * the SOURCE base and are untouched, same fence as the maintenance
    * verbs. */
  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    fs.delete(new Path(baseOf(ident)), true)
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "rename is not supported (paths are table identity)")
}

/** SQL METADATA TABLES over a manifest table, the Iceberg
  * `.history`/`.partitions`/`.files` convention spelt with `$`:
  *
  *   SELECT * FROM graft_cat.`t$history`        -- one row per version
  *   SELECT * FROM graft_cat.`t$partitions`     -- per-partition census
  *   SELECT * FROM graft_cat.`t$files`          -- per-file entries
  *   SELECT * FROM graft_cat.`t$changes_1_3`    -- change feed v1 → v3
  *
  * The first three ship DRIVER-COMPUTED rows (pure manifest arithmetic,
  * KB-sized at any table scale, zero data I/O — the SQL face of
  * [[ManifestTable.tableHistoryDf]]/[[ManifestTable.tablePartitionsDf]]);
  * `$changes` is a DISTRIBUTED batch read of the commit-exact change
  * images between two snapshots (Delta's `table_changes`), planned by
  * the same version-diff machinery as the CDF stream — rewritten
  * partitions emit delete preimages + insert postimages, MoR deletes
  * emit their vectors' rows as delete images (version-fenced). */
private[sources] object ManifestMetaTables {
  import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}

  private val ChangesRe = "changes_([A-Za-z0-9_]+_[A-Za-z0-9_]+)".r
  private val BranchRe = "branch_([A-Za-z][A-Za-z0-9_]*)".r
  // branch CDF endpoints are version NUMBERS (tags pin MAIN versions);
  // matched BEFORE BranchRe so `_changes_<v>_<v>` never parses as a name
  private val BranchChangesRe =
    "branch_([A-Za-z][A-Za-z0-9_]*)_changes_(\\d+)_(\\d+)".r

  /** `$changes` endpoints resolve like `VERSION AS OF`: a number is a
    * version, anything else is a TAG name. */
  private def refVersion(spark: org.apache.spark.sql.SparkSession,
      base: String, s: String): Option[Int] =
    s.toIntOption.orElse(ManifestTable.tagVersion(spark, base, s))

  /** Split `<from>_<to>` where either side may itself contain
    * underscores (tag names): every split point whose BOTH halves
    * resolve to a version is a candidate; all candidates must agree. */
  private def changesEndpoints(spark: org.apache.spark.sql.SparkSession,
      base: String, rest: String): (Int, Int) = {
    val splits = rest.indices.filter(rest(_) == '_').flatMap { i =>
      for {
        from <- refVersion(spark, base, rest.substring(0, i))
        to <- refVersion(spark, base, rest.substring(i + 1))
      } yield (from, to)
    }.distinct
    splits match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"$$changes_$rest: endpoints must be versions or tags of $base — " +
          "tags: " +
          ManifestTable.listTags(spark, base).map(_._1).mkString("[", ", ", "]"))
      case many => throw new IllegalArgumentException(
        s"$$changes_$rest is ambiguous (${many.mkString(", ")}) — use " +
          "version numbers")
    }
  }

  def forSpec(base: String, fullName: String, spec: String,
      served: () => StructType): Table = {
    val spark = org.apache.spark.sql.SparkSession.active
    spec match {
      case "history" => local(fullName,
        StructType(Seq(
          StructField("version", IntegerType), StructField("n_files", LongType),
          StructField("n_partitions", LongType), StructField("n_carried", LongType),
          StructField("n_added", LongType))),
        () => ManifestTable.tableHistoryDf(spark, base).collect().toSeq.map(_.toSeq))
      case "partitions" => local(fullName,
        StructType(Seq(
          StructField("pval", StringType), StructField("n_files", LongType))),
        () => ManifestTable.tablePartitionsDf(spark, base).collect().toSeq.map(_.toSeq))
      case "files" => local(fullName,
        StructType(Seq(
          StructField("pval", StringType), StructField("path", StringType),
          StructField("dir_version", IntegerType), StructField("bytes", LongType))),
        () => {
          val fs = new Path(base).getFileSystem(new Configuration())
          ManifestTable.entries(spark, base,
            ManifestTable.currentVersion(spark, base)).map { case (pval, rel) =>
            val abs = if (rel.startsWith("/") || rel.contains("://")) rel
              else s"$base/$rel"
            val sz = if (fs.exists(new Path(abs)))
              fs.getFileStatus(new Path(abs)).getLen else -1L
            Seq(pval, rel, Int.box(ManifestTable.dirVersionOf(rel)), Long.box(sz))
          }
        })
      case ChangesRe(rest) =>
        // endpoints are versions OR tag names ($changes_rc1_rc2)
        val (from, to) = changesEndpoints(spark, base, rest)
        require(from <= to, s"\\$$changes_$rest: from (v$from) must be <= to (v$to)")
        new ManifestChangesTable(base, fullName, served(), from, to)
      case BranchChangesRe(name, fromS, toS) =>
        // `$branch_<name>_changes_<from>_<to>`: the change feed of the
        // BRANCH's sequence — write-audit-publish's audit step reads what
        // the staged waves changed, not just the branch's state
        val vs = ManifestTable.branchVersions(spark, base, name)
        require(vs.nonEmpty,
          s"no branch named '$name' under $base — branches: " +
            ManifestTable.listBranches(spark, base).map(_._1).mkString("[", ", ", "]"))
        val (from, to) = (fromS.toInt, toS.toInt)
        require(from <= to,
          s"\\$$branch_${name}_changes: from (v$from) must be <= to (v$to)")
        require((from == vs.head - 1 || vs.contains(from)) && vs.contains(to),
          s"\\$$branch_${name}_changes: endpoints must be branch versions " +
            s"${vs.mkString("[", ", ", "]")} (from may also be " +
            s"v${vs.head - 1} = fork-1, emitting the fork's content)")
        new ManifestChangesTable(base, fullName, served(), from, to, Some(name))
      case BranchRe(name) =>
        require(ManifestTable.branchExists(spark, base, name),
          s"no branch named '$name' under $base — branches: " +
            ManifestTable.listBranches(spark, base).map(_._1).mkString("[", ", ", "]"))
        // same non-nullable key serving as the main table: the branch
        // delta row-level path needs a non-nullable row ID too
        val propsB = ManifestTable.tableProperties(spark, base)
        val keyedB = propsB.get("keyCol") match {
          case Some(k) if propsB.get("write.mode").contains("merge-on-read") =>
            StructType(served().fields.map(f =>
              if (f.name.equalsIgnoreCase(k)) f.copy(nullable = false) else f))
          case _ => served()
        }
        new ManifestBranchTable(base, fullName, keyedB, name)
      case "refs" => local(fullName,
        StructType(Seq(
          StructField("name", StringType), StructField("kind", StringType),
          StructField("fork_version", IntegerType),
          StructField("version", IntegerType))),
        () =>
          ManifestTable.listTags(spark, base).map { case (n, v) =>
            Seq(n, "tag", null, Int.box(v)) } ++
          ManifestTable.listBranches(spark, base).map { case (n, fork, head) =>
            Seq(n, "branch", Int.box(fork), Int.box(head)) })
      case other => throw new UnsupportedOperationException(
        s"unknown metadata table $$$other — supported: $$history, " +
          "$partitions, $files, $refs, $changes_<from>_<to>, $branch_<name>, " +
          "$branch_<name>_changes_<from>_<to>")
    }
  }

  private def local(fullName: String, s: StructType,
      rows: () => Seq[Seq[Any]]): Table =
    new Table with SupportsRead {
      override def name(): String = fullName
      override def schema(): StructType = s
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        () => new Scan {
          override def readSchema(): StructType = s
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            new org.apache.spark.sql.connector.read.Batch {
              override def planInputPartitions(): Array[InputPartition] =
                Array(ManifestAggPartition(rows()))
              override def createReaderFactory(): PartitionReaderFactory =
                ManifestLocalRows.readerFactory
            }
        }
    }
}

/** The `$changes_<from>_<to>` table: the change feed between two
  * snapshots as one distributed batch read, reusing the CDF stream's
  * per-version planning (version `from` is the BASE — its rows are not
  * emitted; every commit in (from, to] streams as images). With `branch`
  * set (`$branch_<name>_changes_<from>_<to>`), the feed walks the
  * BRANCH's manifest sequence — the audit step of write-audit-publish
  * can inspect what the staged waves CHANGED, not just the branch's
  * state. */
final class ManifestChangesTable(base: String, fullName: String,
    dataSchema: StructType, from: Int, to: Int,
    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability

  private val full = StructType(dataSchema.fields ++ Seq(
    StructField("_change_type", StringType),
    StructField("_commit_version", IntegerType)))

  override def name(): String = fullName
  override def schema(): StructType = full
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = full
      override def columnarSupportMode(): Scan.ColumnarSupportMode =
        Scan.ColumnarSupportMode.UNSUPPORTED
      override def toBatch: org.apache.spark.sql.connector.read.Batch =
        new org.apache.spark.sql.connector.read.Batch {
          private val stream =
            new ManifestMicroBatchStream(base, full, changeFeed = true, branch)
          override def planInputPartitions(): Array[InputPartition] =
            stream.planInputPartitions(VersionOffset(from), VersionOffset(to))
          override def createReaderFactory(): PartitionReaderFactory =
            stream.createReaderFactory()
        }
    }
}

/** The `$branch_<name>` table: the BRANCH HEAD as a distributed batch
  * read through the connector's per-file reader (name mapping and column
  * defaults resolve exactly like a main read — a branch forked before a
  * RENAME serves the current logical names). Branches carry no deletion
  * vectors by construction ([[ManifestTable.createBranch]] refuses
  * pending vectors, appends add none), so the scan is a plain file
  * union. One InputPartition per branch manifest entry.
  *
  * WRITABLE, and not just INSERT: SQL `DELETE` / `UPDATE` / `MERGE INTO`
  * against the branch run as GROUP-based copy-on-write rewrites of the
  * BRANCH sequence — write-audit-FIX-publish: an audit that finds bad
  * rows corrects them on the branch with plain SQL, main never moves,
  * and the corrected head publishes by one [[ManifestTable.fastForward]]
  * (which swaps full content, so fork-file rewrites are fine;
  * [[ManifestTable.rebasePublish]] keeps refusing them, by design).
  * Identity layouts only — a bucket branch's pvals are bucket ids the
  * group rewrite would misread. */
final class ManifestBranchTable(base: String, fullName: String,
    dataSchema: StructType, branch: String)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.connector.catalog.TableCapability

  override def name(): String = fullName
  override def schema(): StructType = dataSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_pval"
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "manifest partition value of the row's file"
    })

  private def props = ManifestTable.tableProperties(
    org.apache.spark.sql.SparkSession.active, base)

  private def requireIdentityLayout(verb: String): String = {
    if (props.contains("bucket.n"))
      throw new UnsupportedOperationException(
        s"$verb on branch '$branch' of the bucket-layout table $base is " +
          "not supported — bucket pvals are hash ids the group rewrite " +
          "would misread; fix rows before staging, or on main after publish")
    props.getOrElse("partCol", throw new UnsupportedOperationException(
      s"$verb on a branch needs the partCol table property under $base"))
  }

  /** SQL `DELETE FROM graft_cat.\`t$branch_<name>\` WHERE ...`: the
    * translated predicate runs through the branch-sequence copy-on-write
    * [[ManifestTable.deleteWhereBranch]] — only the branch's touched
    * groups rewrite, main is untouched. Untranslatable predicates fall
    * through to the row-level op below. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val mapped = props.get("colmap").exists(_.contains(">")) ||
      props.get("deadcols").exists(_.nonEmpty)
    filters.forall(f => ManifestDeleteSql.toColumn(f).isDefined) &&
      filters.exists(!_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]) &&
      props.contains("partCol") && !mapped && !props.contains("bucket.n")
  }
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val partCol = requireIdentityLayout("DELETE")
    val preds = filters
      .filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
      .flatMap(ManifestDeleteSql.toColumn).toSeq
    require(preds.nonEmpty, "branch DELETE requires a translated predicate")
    if (props.get("write.mode").contains("merge-on-read") &&
        props.contains("keyCol")) {
      // MoR routing, same stamp as main: the DELETE lands a deletion
      // vector on the BRANCH manifest — no staged file rewrites, the
      // branch scan applies it in-scan, fastForward carries it to main
      ManifestTable.deleteWhereMoRBranch(spark, base, branch,
        preds.reduce(_ && _), props("keyCol"))
    } else {
      ManifestTable.deleteWhereBranch(spark, base, branch,
        preds.reduce(_ && _), partCol)
    }
    ()
  }

  /** SQL `UPDATE` / `MERGE INTO` / non-translatable `DELETE` on the
    * branch: the same group-based copy-on-write shape as the main
    * table's [[ManifestRowLevelOp]], committed to the BRANCH sequence
    * with the classified branch retry — or, with the
    * `write.mode=merge-on-read` stamp (+ keyCol), the DELTA op
    * ([[ManifestBranchRowLevelDeltaOp]]): the changes land as a
    * version-fenced branch deletion vector plus appended copies,
    * O(changes) instead of O(touched partitions), main untouched. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      val props0 = ManifestTable.tableProperties(
        org.apache.spark.sql.SparkSession.active, base)
      val mor = props0.get("write.mode").contains("merge-on-read") &&
        props0.contains("keyCol") && props0.contains("partCol")
      if (mor) {
        ManifestTable.requireBigintKey(dataSchema, props0("keyCol"), base)
        new ManifestBranchRowLevelDeltaOp(this, base, branch, info.command(),
          props0("keyCol"), props0("partCol"),
          props0.get("bucket.n").map(_.toInt),
          GraftTransform.fromProps(props0), GraftSpec.fromProps(props0))
      } else new ManifestBranchRowLevelOp(this, base, branch, info.command())
    }

  /** Branch scan with COLUMN PRUNING, a PLANNING RECORDER (the pvals the
    * executed scan read and the branch head it read them at — the write
    * side's replace set), and the RUNTIME GROUP FILTER face row-level
    * operations prune through (same `SupportsRuntimeFiltering` contract
    * as the main scan: only matched groups rewrite). */
  private[sources] def scanBuilderRecording(
      onPlan: (Seq[String], Int) => Unit,
      // false for the branch GROUP-REPLACE op: same carried-row-loss
      // hazard as main (ManifestSnapshotBatch.fileSkipping)
      fileSkipping: Boolean = true): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var projected: StructType = dataSchema
      private var pushedFlt: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        if (requiredSchema.nonEmpty) projected = requiredSchema
      // the identity layout column (static pval pruning is only sound
      // there — bucket/transform pvals aren't the raw values); sidecar
      // file skipping below is layout-independent
      private def identityLayout: Option[String] = {
        val props = ManifestTable.tableProperties(
          org.apache.spark.sql.SparkSession.active, base)
        props.get("partCol").filter(_ => !props.contains("bucket.n") &&
          GraftTransform.fromProps(props).isEmpty &&
          GraftSpec.fromProps(props).isEmpty)
      }
      /** FILE skipping on the BRANCH, same contract as the main scan's
        * pushFilters: layout-column filters prune whole manifest groups,
        * range/equality filters on columns the BRANCH-HEAD sidecars
        * index (maintained by every branch commit) prune individual
        * files. Every filter returns as a residual — skipping never
        * substitutes for the row predicate. */
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        val spark = org.apache.spark.sql.SparkSession.active
        val head = ManifestTable.branchVersions(spark, base, branch).last
        val stem = ManifestTable.branchStem(branch, head)
        pushedFlt = filters.filter(f => ManifestFileSkipping.usableStem(
          spark, base, stem, identityLayout, f))
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushedFlt
      override def build(): Scan = new Scan
          with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
        override def columnarSupportMode(): Scan.ColumnarSupportMode =
          Scan.ColumnarSupportMode.UNSUPPORTED
        @volatile private var runtimePvals: Option[Set[String]] = None
        override def readSchema(): StructType = projected
        override def filterAttributes()
            : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          ManifestTable.tableProperties(
            org.apache.spark.sql.SparkSession.active, base).get("partCol")
            .filter(_ => !ManifestTable.tableProperties(
              org.apache.spark.sql.SparkSession.active, base).contains("bucket.n"))
            .filter(c => projected.fieldNames.exists(_.equalsIgnoreCase(c)))
            .map(c => Array(
              org.apache.spark.sql.connector.expressions.Expressions.column(c)))
            .getOrElse(Array.empty)
        override def filter(
            filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
          import org.apache.spark.sql.sources.{EqualTo, In}
          val keyCol = ManifestTable.tableProperties(
            org.apache.spark.sql.SparkSession.active, base).get("partCol")
          val sets = filters.toSeq.flatMap {
            case In(a, vs) if keyCol.exists(_.equalsIgnoreCase(a)) =>
              Some(vs.filter(_ != null).map(_.toString).toSet)
            case EqualTo(a, v) if keyCol.exists(_.equalsIgnoreCase(a)) && v != null =>
              Some(Set(v.toString))
            case _ => None
          }
          if (sets.nonEmpty) runtimePvals = Some(sets.reduce(_ intersect _))
        }
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          new org.apache.spark.sql.connector.read.Batch {
            override def planInputPartitions(): Array[InputPartition] = {
              val spark = org.apache.spark.sql.SparkSession.active
              val head = ManifestTable.branchVersions(spark, base, branch).last
              val es = ManifestTable.branchEntries(spark, base, branch)
              // static pval pruning (identity layout) + runtime groups
              val partPreds = ManifestFileSkipping.partitionPredicates(
                pushedFlt.toSeq, identityLayout,
                identityLayout.flatMap(n => dataSchema.fields
                  .find(_.name.equalsIgnoreCase(n)).map(_.dataType)))
              val kept0 = es.filter { case (p, _) =>
                partPreds.forall(_(p)) && runtimePvals.forall(_(p)) }
              // per-file sidecar skipping against the BRANCH HEAD's
              // commit-maintained index (stats/sstats/bloom) — plain
              // reads only; a group-replace scan keeps every carried file
              val kept = if (!fileSkipping) kept0 else {
                val survivors = ManifestFileSkipping.fileSurvivorsStem(spark,
                  base, ManifestTable.branchStem(branch, head), pushedFlt.toSeq,
                  kept0.map(_._2))
                kept0.filter { case (_, rel) => survivors(rel) }
              }
              ManifestScanEvents.record(ManifestScanEvents.PlanEvent(
                base, kept.length, es.length, runtimePvals.isDefined))
              onPlan(kept.map(_._1).distinct, head)
              kept.map { case (pval, rel) =>
                val abs = if (rel.startsWith("/") || rel.contains("://")) rel
                  else s"$base/$rel"
                ManifestFilePartition(abs, pval): InputPartition
              }.toArray
            }
            override def createReaderFactory(): PartitionReaderFactory = {
              val spark = org.apache.spark.sql.SparkSession.active
              // pending BRANCH deletion vectors apply in-scan exactly
              // like main's (path-derived pair scoping, cached per
              // vector set)
              val rels = ManifestTable.pendingBranchDvRels(spark, base, branch)
              val (dvCol, dvPairs) =
                if (rels.isEmpty) ("", Map.empty[(Long, String), Int])
                else {
                  val fs = new Path(base).getFileSystem(new Configuration())
                  val v = ManifestDvPairCache.getOrLoad(base, rels)(
                    ManifestDvPairCache.load(base, rels, fs))
                  (v._1, v._3)
                }
              new ManifestFileReaderFactory(projected, dvCol, dvPairs,
                colmap = ManifestColMap.of(spark, base),
                defaults = ManifestColMap.defaults(spark, base, projected))
            }
          }
      }
    }

  /** SQL `INSERT INTO graft_cat.\`t$branch_<name>\` ...` — the staged
    * side of write-audit-publish in plain SQL: the same staged-files
    * write as a main INSERT, committed to the BRANCH's manifest sequence
    * through the append rebase retry. Main never moves. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      private def props = ManifestTable.tableProperties(
        org.apache.spark.sql.SparkSession.active, base)
      private def partCol: String = props.getOrElse("partCol",
        throw new IllegalArgumentException(
          s"INSERT INTO a branch needs the partCol table property under $base"))
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // branch inserts arrive through the catalog (`t$branch_<n>`):
          // cluster by the full layout value like a main INSERT
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              GraftLayoutFunctions.clustering(partCol,
                props.get("bucket.n").map(_.toInt),
                GraftTransform.fromProps(props), GraftSpec.fromProps(props)))
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite =
            new ManifestBranchAppend(base, branch, info.schema(), partCol,
              props.get("bucket.n").map(_.toInt),
              GraftTransform.fromProps(props), GraftSpec.fromProps(props))
        }
    }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scanBuilderRecording((_, _) => ())
}

/** GROUP-based row-level operation on a BRANCH — SQL `UPDATE` /
  * `MERGE INTO` / non-translatable `DELETE` against `t$branch_<name>`:
  * the scan records which groups (and which branch head) it read, the
  * write stages their full new content, and the commit replaces exactly
  * those groups on the BRANCH sequence — main never moves. The audit
  * step of write-audit-publish can now FIX rows, not just inspect them. */
final class ManifestBranchRowLevelOp(table: ManifestBranchTable, base: String,
    branch: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  @volatile private[sources] var planned: Option[(Set[String], Int)] = None

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // fileSkipping OFF: group-replace — carried files must all be read
    table.scanBuilderRecording(
      (pvals, v) => planned = Some((pvals.toSet, v)), fileSkipping = false)
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_pval"))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val spark0 = org.apache.spark.sql.SparkSession.active
    val props0 = ManifestTable.tableProperties(spark0, base)
    if (props0.contains("bucket.n"))
      throw new UnsupportedOperationException(
        s"row-level $cmd on branch '$branch' of the bucket-layout table " +
          s"$base is not supported — bucket pvals are hash ids the group " +
          "rewrite would misread")
    // same fence as the main row-level op: a group rewrite under pending
    // (branch) vectors could permanently apply or re-apply them half-way
    ManifestTable.requireNoPendingBranchDv(spark0, base, branch,
      s"row-level $cmd")
    val partCol = props0.getOrElse("partCol",
      throw new UnsupportedOperationException(
        s"row-level $cmd on a branch needs the partCol table property under $base"))
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // catalog-only path: cluster the branch rewrite by the FULL
          // layout value — incl. the multi-field spec composite (see
          // ManifestRowLevelOp); dropping the spec here would cluster by
          // transform/identity only and re-create the tasks × composite-
          // pvals small-file sprawl the main-table op fixed
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              GraftLayoutFunctions.clustering(partCol, None,
                GraftTransform.fromProps(props0), GraftSpec.fromProps(props0)))
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new ManifestBranchReplaceGroups(base, branch, info.schema(),
              partCol, () => planned, GraftTransform.fromProps(props0),
              GraftSpec.fromProps(props0))
        }
    }
  }
}

/** The branch-sequence twin of [[ManifestReplaceGroups]]: staged files
  * become the new content of every group the operation's scan read AT
  * THE BRANCH HEAD IT READ; untouched branch groups carry by reference;
  * the commit lands through the classified branch retry
  * ([[ManifestTable.commitBranchRetrying]]). */
final class ManifestBranchReplaceGroups(base: String, branch: String,
    schema: StructType, partCol: String,
    planned: () => Option[(Set[String], Int)],
    transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestBatchWriterFactory(base, schema, partCol, None, transform,
      multi)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    val staged = messages.flatMap { case m: ManifestSinkFiles => m.files }.toSeq
    val spark = org.apache.spark.sql.SparkSession.active
    // same fail-loud rule as the main replace: an unknown read set must
    // never default to replace-all (the branch head stays intact)
    val (replaced, readHead) = planned().getOrElse(throw new IllegalStateException(
      s"row-level write on branch '$branch' under $base: the operation's " +
        "scan never planned, so the replace set is unknown — refusing to commit"))
    val next = ManifestTable.branchVersions(spark, base, branch).last + 1
    val moved = staged.map { case (pval, abs) =>
      val destDir = new Path(base, s"files/v$next/p=$pval")
      fs.mkdirs(destDir)
      val dest = new Path(destDir, new Path(abs).getName)
      if (!fs.rename(new Path(abs), dest))
        throw new java.io.IOException(s"branch replace move failed: $abs")
      (pval, s"files/v$next/p=$pval/${dest.getName}")
    }
    ManifestTable.commitBranchRetrying(spark, base, branch, readHead,
      moved, Some(replaced))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    messages.foreach {
      case m: ManifestSinkFiles =>
        m.files.foreach { case (_, p) => fs.delete(new Path(p), false) }
      case _ =>
    }
  }
}

/** DELTA-based row-level operation against a BRANCH HEAD — the
  * merge-on-read face of SQL `UPDATE` / `MERGE INTO` /
  * non-translatable `DELETE` on `t$branch_<n>` when the table is
  * stamped `write.mode=merge-on-read` (+ `keyCol`): ONE branch commit
  * lands a version-fenced deletion vector (the matched rows) plus the
  * updated copies as appended files, zero committed files rewritten,
  * main untouched — [[ManifestRowLevelDeltaOp]]'s branch twin, closing
  * the verb asymmetry where a branch DELETE took the vector route but a
  * branch UPDATE still rewrote copy-on-write. The fence crux is BRANCH
  * DIR NUMBERING: fork files carry MAIN dir numbers, so the cut derives
  * from the head's ENTRIES ([[ManifestTable.cutForBranch]]), never from
  * the branch version counter alone; branch appends floor their staging
  * dir at pending cuts ([[ManifestTable.stageFloorBranch]]) so the fence
  * can never hide later-appended rows; `fastForward` carries the fenced
  * marker onto main, where the same entry-derived arithmetic (and main's
  * own append floor) keeps it sound. */
final class ManifestBranchRowLevelDeltaOp(table: ManifestBranchTable,
    base: String, branch: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    keyCol: String, partCol: String,
    bucketN: Option[Int] = None,
    transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {
  @volatile private[sources] var planned: Option[(Set[String], Int)] = None

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.scanBuilderRecording((pvals, head) => planned = Some((pvals.toSet, head)))
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_pval"))
  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(keyCol))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder = {
    val dataSchema = StructType(info.schema().fields
      .filterNot(f => f.name == "_pval" || f.name == "__row_operation"))
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // same delta clustering as the main op (see
          // ManifestRowLevelDeltaOp, incl. the (_pval, transform) PAIR
          // for mixed MERGE deltas): branch DML arrives through the
          // catalog too, so transform functions resolve
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              if (cmd == org.apache.spark.sql.connector.write
                    .RowLevelOperation.Command.DELETE)
                Array[org.apache.spark.sql.connector.expressions.Expression](
                  org.apache.spark.sql.connector.expressions.Expressions
                    .identity("_pval"))
              else (org.apache.spark.sql.connector.expressions.Expressions
                  .identity("_pval")
                    : org.apache.spark.sql.connector.expressions.Expression) +:
                GraftLayoutFunctions.clustering(partCol, bucketN,
                  transform, multi))
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new ManifestBranchDeltaWrite(base, branch, dataSchema, keyCol,
              partCol, () => planned, bucketN, transform, multi)
        }
    }
  }
}

/** The branch-sequence twin of [[ManifestDeltaWrite]]: executors reuse
  * the same delta writers (staged copies through the table's layout, DV
  * fragments under the shared vector dir); only the COMMIT differs —
  * cut from the branch head's entries, classification against the
  * branch sequence (a concurrent BRANCH vector or a change to a
  * deleted-from partition aborts; branch appends elsewhere rebase), and
  * the manifest lands through the named branch commit. Pending branch
  * vectors are allowed: the branch scan applied them in-scan, the new
  * vector stacks. */
final class ManifestBranchDeltaWrite(base: String, branch: String,
    rowSchema: StructType, keyCol: String, partCol: String,
    planned: () => Option[(Set[String], Int)],
    bucketN: Option[Int] = None, transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  import org.apache.spark.sql.connector.write.{DeltaWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private val dvToken = java.util.UUID.randomUUID.toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new ManifestDeltaWriterFactory(base, rowSchema, keyCol, partCol, dvToken,
      bucketN, transform, multi)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val fs = new Path(base).getFileSystem(new Configuration())
    val msgs = messages.collect { case m: ManifestDeltaFiles => m }.toSeq
    val staged = msgs.flatMap(_.files)
    val frags = msgs.flatMap(_.dvFrags)
    val touched = msgs.flatMap(_.delPvals).toSet
    if (staged.isEmpty && frags.isEmpty) return // nothing matched, no commit
    ManifestDeltaWriteStats.record(msgs.count(_.dvFrags.nonEmpty),
      msgs.count(_.files.nonEmpty))
    val (_, readHead) = planned().getOrElse(throw new IllegalStateException(
      s"delta row-level write on branch '$branch' under $base: the " +
        "operation's scan never planned — refusing to commit"))
    val cut = ManifestTable.cutForBranch(spark, base, branch, readHead)
    // pooled moves, like the main delta commit
    val moved = ManifestTable.moveStagedFiles(fs, base, cut, staged,
      "branch delta")
    val rel = s"_dv/d-$dvToken"
    val hasDv = frags.nonEmpty
    if (hasDv) {
      ManifestTable.consolidateDvDir(spark, base, rel)
      val out = fs.create(new Path(base, s"$rel/_partcol"), true)
      try out.write(partCol.getBytes("UTF-8")) finally out.close()
      ManifestTable.writeDvCut(spark, base, rel, cut)
    }
    def cleanup(): Unit = {
      if (hasDv) fs.delete(new Path(base, rel), true)
      moved.foreach { case (_, r) => fs.delete(new Path(base, r), true) }
    }
    var attempt = 0
    while (true) {
      attempt += 1
      val cur = ManifestTable.branchVersions(spark, base, branch).last
      if (cur != readHead) {
        val newDvs = ManifestTable.dvMarkersAtBranch(spark, base, branch, cur)
          .diff(ManifestTable.dvMarkersAtBranch(spark, base, branch, readHead))
        val before = ManifestTable
          .branchEntriesAt(spark, base, branch, readHead)
          .filter { case (p, _) => touched(p) }.toSet
        val now = ManifestTable.branchEntriesAt(spark, base, branch, cur)
          .filter { case (p, _) => touched(p) }.toSet
        if (newDvs.nonEmpty || before != now) {
          cleanup()
          throw new ManifestTable.ConcurrentRewriteException(
            s"delta row-level write on branch '$branch' under $base: the " +
              s"branch changed between read (v$readHead) and commit " +
              s"(v$cur) in a way the write cannot rebase over — re-run " +
              "the statement")
        }
      }
      val merged =
        (ManifestTable.dvMarkersAtBranch(spark, base, branch, cur) ++
          (if (hasDv) Seq(rel) else Nil)).map((ManifestTable.DvMarker, _)) ++
          ManifestTable.branchEntriesAt(spark, base, branch, cur) ++ moved
      try {
        ManifestTable.commitNamed(spark, base,
          ManifestTable.branchManifestName(branch, cur + 1), merged,
          s"concurrent commit: branch $branch version ${cur + 1} already " +
            s"exists under $base")
        return
      } catch {
        case _: ManifestTable.VersionConflictException if attempt < 20 => ()
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    messages.foreach {
      case m: ManifestDeltaFiles =>
        m.files.foreach { case (_, p) => fs.delete(new Path(p), false) }
        m.dvFrags.foreach(p => fs.delete(new Path(p), false))
      case _ =>
    }
  }
}

/** Batch read of one committed snapshot through the same connector — the
  * DSv2 face of [[ManifestTable.readVersion]] (time travel via
  * `versionAsOf`). One InputPartition per manifest file, same
  * name-resolved parquet reader as the stream. */
final class ManifestSnapshotBatch(base: String, schema: StructType,
    versionAsOf: Option[Int], layoutCol: Option[String] = None,
    layoutType: Option[DataType] = None,
    layoutName: Option[String] = None,
    pushed: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
    runtimePvals: () => Option[Set[String]] = () => None,
    pushedLimit: Option[Int] = None,
    onPlan: (Seq[String], Int) => Unit = (_, _) => (),
    // BUCKET-keyed grouping: pvals are bucket ids — one InputPartition
    // per bucket, keyed by the INT id (never by-value semantics)
    bucketKeyed: Boolean = false,
    // bucket ids implied by pushed point predicates on the bucket key
    // (None = no static bucket pruning)
    bucketPvals: Option[Set[String]] = None,
    // TIME/TRUNCATE layout: pushed raw-column predicates folded into one
    // inclusive pval predicate (None = no transform pruning)
    pvalKeep: Option[String => Boolean] = None,
    // GROUP-REPLACE safety: a copy-on-write row-level op's write stages
    // the scan's output as each planned group's FULL new content, so
    // per-file sidecar skipping inside a planned group would silently
    // drop the skipped files' rows (Spark pushes the op's CONDITION into
    // this scan; a carried file whose stats can't match it still holds
    // rows the rewrite must keep). Group-grain pruning above stays on —
    // an un-planned group carries by reference. Pinned in
    // RowLevelScanSafetySpec (the probe measured 1500→1411 rows lost).
    fileSkipping: Boolean = true)
    extends org.apache.spark.sql.connector.read.Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val fs = new Path(base).getFileSystem(new Configuration())
    val dir = new Path(base, "_manifests")
    val vs = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }.sorted
    val v = versionAsOf.getOrElse(vs.last)
    require(vs.contains(v), s"versionAsOf $v not committed under $base (have $vs)")
    val p = new Path(dir, s"v$v.manifest")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val all = text.split("\n").filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      (l.substring(0, i), l.substring(i + 1)) // (pval, rel)
    }.filterNot(_._1 == ManifestTable.DvMarker) // DV markers are metadata
    // three skipping stages, all driver-side metadata: (1) static
    // partition pruning from pushed layout-column filters, (2) runtime
    // partition pruning (DPP — the join's build-side keys arrive through
    // SupportsRuntimeFiltering.filter), (3) per-file stats/bloom sidecar
    // skipping for pushed filters on indexed columns
    val spark = org.apache.spark.sql.SparkSession.active
    val partPreds = ManifestFileSkipping.partitionPredicates(
      pushed, layoutName, layoutName.flatMap(n =>
        schema.fields.find(_.name.equalsIgnoreCase(n)).map(_.dataType))
        .orElse(layoutType))
    val rt = runtimePvals()
    val afterPart = all.filter { case (pval, _) =>
      partPreds.forall(_(pval)) && rt.forall(_.contains(pval)) &&
        bucketPvals.forall(_.contains(pval)) && pvalKeep.forall(_(pval)) }
    val afterFiles = if (!fileSkipping) afterPart else {
      val survivors = ManifestFileSkipping.fileSurvivors(
        spark, base, v, pushed, afterPart.map(_._2).toSeq)
      afterPart.filter { case (_, rel) => survivors(rel) }
    }
    // LIMIT-driven file pruning: with no filters (pushLimit refuses
    // otherwise), no runtime filter, and no pending deletion vector, the
    // sidecar row counts bound how many files can be needed — keep files
    // only while the cumulative count is still under the limit (any
    // `limit` rows are a correct answer to an unordered LIMIT; Spark
    // still applies the row-exact cut above)
    val limited = pushedLimit match {
      case Some(l) if rt.isEmpty && pushed.isEmpty &&
          (versionAsOf.isDefined ||
            ManifestTable.pendingDvRels(spark, base).isEmpty) =>
        ManifestTable.statCols(spark, base, v).view
          .map(c => ManifestTable.readStatsCounts(spark, base, v, c))
          .find(m => afterFiles.forall { case (_, rel) => m.contains(rel) }) match {
          case Some(m) =>
            var cum = 0L
            afterFiles.takeWhile { case (_, rel) =>
              val before = cum; cum += m(rel); before < l }
          case None => afterFiles
        }
      case _ => afterFiles
    }
    val entries = limited.map { case (pval, rel) =>
      val abs = if (rel.startsWith("/") || rel.contains("://")) rel else s"$base/$rel"
      (pval, abs)
    }
    ManifestScanEvents.record(ManifestScanEvents.PlanEvent(
      base, entries.length, all.length, rt.isDefined,
      limitPruned = limited.length < afterFiles.length))
    onPlan(limited.map(_._1).distinct.toSeq, v)
    if (bucketKeyed) {
      // one partition per BUCKET id, keyed by the id itself — what the
      // reported bucket-transform KeyGroupedPartitioning promises
      return entries.groupBy(_._1).toSeq.sortBy(_._1.toInt).map {
        case (pval, fs0) =>
          ManifestKeyedPartition(fs0.map(_._2).toSeq,
            new GenericInternalRow(Array[Any](pval.toInt)), pval): InputPartition
      }.toArray
    }
    layoutCol match {
      case Some(_) =>
        // key-grouped: ONE input partition per layout value (all its
        // files), each carrying its partition key for Catalyst
        entries.groupBy(_._1).toSeq.sortBy(_._1).map { case (pval, fs0) =>
          val key = layoutType.get match {
            case IntegerType => new GenericInternalRow(Array[Any](pval.toInt))
            case LongType => new GenericInternalRow(Array[Any](pval.toLong))
            case StringType =>
              new GenericInternalRow(Array[Any](UTF8String.fromString(pval)))
            case dt => throw new UnsupportedOperationException(
              s"key-grouped layout on type $dt")
          }
          ManifestKeyedPartition(fs0.map(_._2).toSeq, key, pval): InputPartition
        }.toArray
      case None =>
        entries.map { case (pval, abs) =>
          ManifestFilePartition(abs, pval): InputPartition }
    }
  }

  /** Pending deletion vectors applied IN-SCAN: for the current-version
    * read the DV (key, partition-value) PAIRS load once on the driver
    * (via the same public parquet reader the executors use) and ride the
    * reader FACTORY — serialized once, shared by every task — so catalog
    * SQL and connector reads see merge-on-read semantics without a join.
    * Pair scoping (not key alone) keeps a key's rows in partitions the
    * delete predicate did not match — exactly `readMoR`'s and
    * `purgeDeletes`' contract. A vector larger than the in-task budget
    * refuses the scan and points at REORG; the anti-join path
    * (`ManifestTable.readMoR`) has no such bound and remains the
    * programmatic API. Time-travel reads skip DV application — vectors
    * belong to versions after the pinned one. */
  private def pendingDvPairs(fs: FileSystem): (String, String, Map[(Long, String), Int]) = {
    if (versionAsOf.isDefined) return ("", "", Map.empty)
    // vectors pending at the CURRENT version, read from the manifest's
    // own `__dv` markers — atomically consistent with the planned snapshot
    val spark = org.apache.spark.sql.SparkSession.active
    val rels = ManifestTable.pendingDvRels(spark, base)
    if (rels.isEmpty) return ("", "", Map.empty)
    // repeated scans of one MoR state hit the driver-side cache — the
    // key (base, vector dirs) can never serve stale: dirs are UUID-named
    // and immutable once their marker commits (consolidation runs
    // pre-commit), so any commit that adds/removes/purges vectors
    // changes the key
    ManifestDvPairCache.getOrLoad(base, rels)(
      ManifestDvPairCache.load(base, rels, fs))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fs = new Path(base).getFileSystem(new Configuration())
    val (dvCol, _, dvPairs) = pendingDvPairs(fs)
    val spark = org.apache.spark.sql.SparkSession.active
    // a vector's __pval is the MANIFEST pval of the row's FILE (see
    // ManifestTable.filePvalExpr), and every input partition carries its
    // file's manifest pval — the reader compares them directly, with no
    // per-row layout recomputation and no era/layout dependence at all
    new ManifestFileReaderFactory(schema, dvCol, dvPairs,
      ManifestColMap.of(spark, base),
      ManifestColMap.defaults(spark, base, schema))
  }
}

/** Driver-side LRU of in-scan deletion-vector pair maps, keyed on
  * (base, pending vector dirs). A hit can never be stale: vector dirs
  * are UUID-named and IMMUTABLE once their `__dv` marker commits (the
  * fragment consolidation runs pre-commit), so any commit that adds,
  * replaces, or purges vectors changes the key and misses — eviction is
  * the version movement itself. Entries are matches-sized metadata;
  * the LRU bound caps driver memory across many tables. */
private[sources] object ManifestDvPairCache {
  private val MaxEntries = 64
  private type V = (String, String, Map[(Long, String), Int])
  private val cache =
    new java.util.LinkedHashMap[(String, Seq[String]), V](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]), V]): Boolean =
        size() > MaxEntries
    }
  /** Physical (cache-miss) loads — test hook for the one-read pin. */
  @volatile private[sources] var loads: Long = 0L
  def getOrLoad(base: String, rels: Seq[String])(load: => V): V =
    synchronized {
      val key = (base, rels.sorted)
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        loads += 1
        val v = load
        cache.put(key, v)
        v
      }
    }

  /** The physical load: (key column, partition-source column,
    * (key, pval) -> version cut). Shared by the MAIN scan and the BRANCH
    * scan — both apply vectors by comparing pairs against each input
    * partition's file-manifest pval. */
  private[sources] def load(base: String, rels: Seq[String], fs: FileSystem)
      : (String, String, Map[(Long, String), Int]) = {
    val dvDirs = rels.map(rel => new Path(base, rel))
    // the _partcol sidecar names the DATA column the recorded partition
    // values came from; every pending vector of a table must agree
    val partCols = dvDirs.map { d =>
      val p = new Path(d, "_partcol")
      require(fs.exists(p), s"deletion vector $d lacks its _partcol sidecar")
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    }.distinct
    require(partCols.size == 1,
      s"pending deletion vectors disagree on the partition column: $partCols")
    var keyCol = ""
    // pair -> version fence: hide a row only when its file's dir version
    // is BELOW the pair's cut (an update vector's own appended copies sit
    // AT the cut and survive); delete vectors carry no `_cut` sidecar =
    // hide always. Multiple vectors naming one pair keep the MAX cut.
    val pairs = scala.collection.mutable.Map[(Long, String), Int]()
    // ONE Configuration for every fragment: a delta write leaves one DV
    // fragment per writer task (a wide update → hundreds), and
    // Configuration construction loads XML resources (~tens of ms) — a
    // per-fragment allocation turned every scan of a wide-update table
    // into seconds of driver-side conf parsing (q_spec2_update_mor read
    // 45 s before; ~4 s after)
    val dvConf = new Configuration()
    rels.zip(dvDirs).foreach { case (rel, d) =>
      val cut = ManifestTable.dvCutOf(
        org.apache.spark.sql.SparkSession.active, base, rel)
      fs.listStatus(d).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
          val r = ParquetReader.builder(new GroupReadSupport(), f.getPath)
            .withConf(dvConf).build()
          var g = r.read()
          while (g != null) {
            if (keyCol.isEmpty) keyCol = g.getType.getFieldName(0)
            val k = (g.getLong(keyCol, 0), g.getString("__pval", 0))
            pairs(k) = math.max(pairs.getOrElse(k, Int.MinValue), cut)
            require(pairs.size <= 1000000,
              s"deletion vector too large for in-scan application under $base — run purgeDeletes")
            g = r.read()
          }
          r.close()
        }
    }
    (keyCol, partCols.head, pairs.toMap)
  }
}

/** Offset = highest FULLY consumed version (0 = nothing), plus — under
  * `maxFilesPerTrigger` admission — how many of version v+1's delta
  * partitions are already consumed (`files`). Serialized as the bare
  * version when files = 0, so every pre-existing checkpoint replays
  * unchanged; a split position serializes `v#files`. */
final case class VersionOffset(v: Int, files: Int = 0) extends Offset {
  override def json(): String = if (files == 0) v.toString else s"$v#$files"
}
object VersionOffset {
  def parse(s: String): VersionOffset = s.split('#') match {
    case Array(v) => VersionOffset(v.toInt)
    case Array(v, k) => VersionOffset(v.toInt, k.toInt)
    case _ => throw new IllegalArgumentException(s"bad manifest offset '$s'")
  }
}

/** Change-feed-mode streaming: one whole file's rows as images of one
  * change type (`insert` for files a commit added, `delete` for files it
  * removed), or — for a merge-on-read DELETE commit, which removes no
  * files — the DV-named rows of one carried file as delete images. */
final case class CdfFilePartition(path: String, changeType: String, version: Int)
    extends InputPartition
final case class CdfDvPartition(path: String, keyCol: String,
    keys: Seq[Long], version: Int) extends InputPartition

/** Driver-side load of the deletion vector committed AT one version:
  * (key column name, partition value → deleted keys). Bounded like the
  * in-scan DV (vectors are matches-sized metadata, not data). */
private[sources] object ManifestDvSidecar {
  /** One element per vector version v's commit introduced:
    * (cut, key column, partition value → deleted keys). The cut is the
    * vector's version fence (Int.MaxValue for delete-only vectors): the
    * feed emits delete images only from files BELOW it, so an update
    * commit's own appended copies are never re-emitted as deletes.
    * With `branch` set the markers come from the BRANCH manifest
    * sequence (branch MoR DELETE/UPDATE land vectors there) — the fence
    * arithmetic is version-generic, and the fork manifest carries no
    * markers by construction ([[ManifestTable.createBranch]] refuses
    * pending main vectors), so the fork batch never needs a diff base. */
  def pairsAt(base: String, v: Int, branch: Option[String] = None)
      : Seq[(Int, String, Map[String, Set[Long]])] = {
    val fs = new Path(base).getFileSystem(new Configuration())
    val spark = org.apache.spark.sql.SparkSession.active
    // the vectors version v's commit INTRODUCED: its markers minus the
    // previous manifest's (markers carry forward until purged)
    def markersAt(mv: Int): Seq[String] = branch match {
      case None =>
        if (mv >= 1) ManifestTable.dvMarkersAt(spark, base, mv) else Seq.empty
      case Some(b) => // missing manifest (below the fork) reads as empty
        ManifestTable.dvMarkersAtBranch(spark, base, b, mv)
    }
    val landed = markersAt(v).diff(markersAt(v - 1))
      .filter(rel => fs.exists(new Path(base, rel))) // purged vectors tolerate
    val dvConf = new Configuration() // one conf for every fragment (see pendingDvPairs)
    landed.map { rel =>
      val d = new Path(base, rel)
      val cut = ManifestTable.dvCutOf(spark, base, rel)
      var keyCol = ""
      val m = scala.collection.mutable.Map[String, scala.collection.mutable.Set[Long]]()
      var n = 0L
      fs.listStatus(d).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val r = ParquetReader.builder(new GroupReadSupport(), f.getPath)
          .withConf(dvConf).build()
        var g = r.read()
        while (g != null) {
          if (keyCol.isEmpty) keyCol = g.getType.getFieldName(0)
          m.getOrElseUpdate(g.getString("__pval", 0),
            scala.collection.mutable.Set[Long]()) += g.getLong(keyCol, 0)
          n += 1
          require(n <= 1000000,
            s"deletion vector at v$v under $base too large to stream as images — run purgeDeletes first")
          g = r.read()
        }
        r.close()
      }
      (cut, keyCol, m.map { case (k, s) => k -> s.toSet }.toMap)
    }
  }
}

final class ManifestMicroBatchStream(base: String, schema: StructType,
    changeFeed: Boolean = false,
    // STREAM A BRANCH (`.option("branch", name)`): batches walk the
    // branch's manifest sequence instead of main's — the fork version is
    // the initial snapshot (its whole content is batch one), each branch
    // append is a batch. Audit a WAP feed as a stream before publishing.
    branch: Option[String] = None,
    // WITHIN-VERSION ADMISSION (`.option("maxFilesPerTrigger", n)`): a
    // single giant commit (a backfill's thousand-file version) no longer
    // arrives as one unbounded micro-batch — its delta partitions split
    // across batches of at most n, positioned by VersionOffset.files.
    // A batch still never MIXES commits (the split is within one
    // version), so every batch's rows belong to exactly one table
    // version — the commit-boundary contract weakens only from
    // "batch = whole commit" to "batch ⊆ one commit".
    maxFilesPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // driver-side manifest arithmetic (metadata-sized, like every commit op)
  private def fs: FileSystem =
    new Path(base).getFileSystem(new Configuration())
  private def manifestName(v: Int): String =
    branch.map(b => s"branch-$b-v$v.manifest").getOrElse(s"v$v.manifest")
  private def committedVersions: Seq[Int] = {
    val dir = new Path(base, "_manifests")
    if (!fs.exists(dir)) Seq.empty
    else branch match {
      case None => fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toInt }
        .sorted
      case Some(b) =>
        val st = fs.globStatus(new Path(dir, s"branch-$b-v*.manifest"))
        if (st == null) Seq.empty
        else st.toSeq.map(_.getPath.getName
            .stripPrefix(s"branch-$b-v").stripSuffix(".manifest").toInt).sorted
    }
  }
  /** First version of the consumed sequence: 1 on main, the FORK on a
    * branch — the version whose batch diffs against empty. */
  private def firstVersion: Int = branch match {
    case None => 1
    case Some(b) =>
      val vs = committedVersions
      require(vs.nonEmpty,
        s"streaming read: no branch named '$b' under $base — createBranch first")
      vs.head
  }
  private def entriesOf(v: Int): Seq[String] = entriesPvalOf(v).map(_._2)
  private def entriesPvalOf(v: Int): Seq[(String, String)] = {
    val p = new Path(base, s"_manifests/${manifestName(v)}")
    if (!fs.exists(p)) return Seq.empty
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      (l.substring(0, i), l.substring(i + 1))
    }.filterNot(_._1 == ManifestTable.DvMarker) // DV markers are metadata
  }

  // Trigger.AvailableNow pins the catch-up target ONCE, so a concurrent
  // writer committing mid-run can't extend this execution unboundedly
  private var target: Int = -1
  override def prepareForTriggerAvailableNow(): Unit =
    target = committedVersions.lastOption.getOrElse(0)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = if (target >= 0) target else committedVersions.lastOption.getOrElse(0)
    val s = start.asInstanceOf[VersionOffset]
    // admission control: at most ONE committed version per micro-batch —
    // the batch boundary never crosses a commit boundary. Under
    // maxFilesPerTrigger the NEXT version's delta additionally splits
    // into batches of at most that many partitions (a giant backfill
    // commit streams in bounded pieces instead of one unbounded gulp).
    maxFilesPerTrigger match {
      case None => VersionOffset(math.min(cur, s.v + 1))
      case Some(cap) =>
        val next = s.v + 1
        if (next > cur) VersionOffset(s.v) // caught up (drops a stale split pos)
        else {
          val n = versionPartitions(next).size
          val k2 = math.min(n, s.files + math.max(1, cap))
          if (k2 >= n) VersionOffset(next) else VersionOffset(s.v, k2)
        }
    }
  }
  override def reportLatestOffset(): Offset =
    VersionOffset(committedVersions.lastOption.getOrElse(0))
  override def latestOffset(): Offset = reportLatestOffset()
  override def initialOffset(): Offset = VersionOffset(firstVersion - 1)
  override def deserializeOffset(json: String): Offset = VersionOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset]
    val e = end.asInstanceOf[VersionOffset]
    // a split end (files > 0) means version e.v+1 is PARTIALLY admitted;
    // slicing is at delta-partition granularity over the deterministic
    // per-version partition list (manifest line order), so a crash-replay
    // of the same offset range reproduces the same rows exactly
    val endV = if (e.files > 0) e.v + 1 else e.v
    (s.v + 1 to endV).flatMap { v =>
      val parts = versionPartitions(v)
      val from = if (v == s.v + 1) s.files else 0
      val until = if (e.files > 0 && v == e.v + 1) e.files else parts.size
      parts.slice(from, until)
    }.toArray
  }

  /** Version v's delta as input partitions, in DETERMINISTIC order (the
    * manifest's own line order) — [[planInputPartitions]] slices this
    * list by offset position under within-version admission, so the
    * construction must be a pure function of the committed manifests. */
  private def versionPartitions(v: Int): Seq[InputPartition] = {
    Seq(v).flatMap { v =>
      // a batch's rows are the files version v ADDED over v-1; if either
      // manifest was expired the diff is unreconstructable — diffing
      // against an empty set would re-emit every carried file as "new"
      // and silently duplicate rows downstream. Fail with the remedy.
      def requireManifest(mv: Int): Unit =
        if (!fs.exists(new Path(base, s"_manifests/${manifestName(mv)}")))
          throw new IllegalStateException(
            s"manifest ${manifestName(mv)} under $base no longer exists " +
              "(expireSnapshots? dropBranch?) — the stream cannot " +
              "reconstruct this batch; restart from a fresh checkpoint " +
              "to take a new initial snapshot")
      requireManifest(v)
      val first = firstVersion
      if (v > first) requireManifest(v - 1)
      def abs(rel: String): String =
        if (rel.startsWith("/") || rel.contains("://")) rel else s"$base/$rel"
      if (!changeFeed) {
        val prev = if (v == first) Set.empty[String] else entriesOf(v - 1).toSet
        entriesPvalOf(v).filterNot(e => prev(e._2)).map { case (pval, rel) =>
          ManifestFilePartition(abs(rel), pval): InputPartition
        }
      } else {
        // CHANGE-FEED consumption: version v streams as the row IMAGES
        // its commit implies — added files as inserts, removed files as
        // deletes (a merge's rewritten partition emits delete preimages
        // of its old files plus insert postimages of its new files, so
        // carried rows cancel downstream instead of duplicating), and a
        // merge-on-read DELETE (no file change at all) emits the
        // DV-named rows of the touched partitions' carried files as
        // delete images
        // on a BRANCH the first consumable version is the FORK: its whole
        // content streams as the initial insert wave (diff against empty),
        // exactly like the plain branch stream's batch one
        val cur = entriesPvalOf(v)
        val prev = if (v == first) Seq.empty[(String, String)] else entriesPvalOf(v - 1)
        val curSet = cur.map(_._2).toSet
        val prevSet = prev.map(_._2).toSet
        val inserts = cur.filterNot(c => prevSet(c._2))
          .map { case (_, rel) => CdfFilePartition(abs(rel), "insert", v): InputPartition }
        val deletes = prev.filterNot(p => curSet(p._2))
          .map { case (_, rel) => CdfFilePartition(abs(rel), "delete", v): InputPartition }
        // DV markers come from the feed's OWN manifest sequence: main's
        // for a main feed, the branch's for a branch feed (branch MoR
        // DELETE/UPDATE land vectors on branch manifests) — a branch
        // feed must never read main's same-numbered manifest for them,
        // and must not drop its own (an update's insert images without
        // the matching deletes is a wrong changefeed)
        val dvParts = ManifestDvSidecar.pairsAt(base, v, branch).flatMap {
          case (cut, kc, dvm) => cur.collect {
            // the version fence scopes the delete images exactly like the
            // read path: only files BELOW the vector's cut — an update
            // commit's own appended copies stream as inserts, never as
            // their vector's deletes
            case (pval, rel) if dvm.contains(pval) &&
                ManifestTable.dirVersionOf(rel) < cut =>
              CdfDvPartition(abs(rel), kc, dvm(pval).toSeq, v): InputPartition
          }
        }
        inserts ++ deletes ++ dvParts
      }
    }
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    // a change feed's DV delete images filter on the table's key column —
    // read only where a vector was ever written (a BIGINT key, then)
    val keyCol = ManifestTable.tableProperties(spark, base).get("keyCol")
      .filter(_ => changeFeed && fs.exists(new Path(base, "_dv"))).getOrElse("")
    new ManifestFileReaderFactory(schema, keyCol,
      colmap = ManifestColMap.of(spark, base),
      defaults = ManifestColMap.defaults(spark, base, schema))
  }
}

final case class ManifestFilePartition(path: String, pval: String = "")
    extends InputPartition

/** One partition per layout value, carrying its key for Catalyst's
  * key-grouped (storage-partitioned) execution. */
final case class ManifestKeyedPartition(paths: Seq[String], key: InternalRow,
    pval: String = "")
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Test-only observability for the reader's page-level projection: the
  * number of parquet fields each file reader REQUESTED (intersected with
  * the footer when the file's footer is read). Local-mode specs read it
  * to pin that a narrow projection decodes narrow — production cost is
  * one integer per reader construction. */
object ManifestReaderStats {
  private val counts = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  private[sources] def record(n: Int): Unit = counts.add(n)
  def drain(): Seq[Int] = {
    val b = scala.collection.mutable.Buffer[Int]()
    var x = counts.poll()
    while (x != null) { b += x; x = counts.poll() }
    b.toSeq
  }
}

/** Reads manifest data files for every connector scan: Spark's own
  * `ParquetFileFormat` decodes each file (vectorized when the schema
  * allows, rows out), then one per-file `UnsafeProjection` and a row
  * filter add what the table format layers on plain parquet:
  *  - RENAME: a served column reads its ORIGINAL footer name from
  *    pre-rename files, its logical name from later ones;
  *  - DEFAULT: a field ABSENT from the footer serves its declared default
  *    (a field present but null stays null);
  *  - the `_pval` and change-feed constant columns;
  *  - the deletion-vector version fence and the change feed's DV images.
  * The reader function is built ONCE on the driver, over every name a
  * file may store a served column under plus `keyCol` (the DV key, read
  * even when the projection drops it); only those column chunks decode. */
final class ManifestFileReaderFactory(schema: StructType,
    keyCol: String = "",
    dvPairs: Map[(Long, String), Int] = Map.empty,
    colmap: Map[String, String] = Map.empty,
    defaults: Map[String, Any] = Map.empty)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, UnsafeProjection}
  import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}

  private def physicalOf(logical: String): String =
    colmap.getOrElse(logical, logical)

  private val readSchema: StructType = {
    val data = schema.fields.toSeq
      .filterNot(f => ManifestFileReaderFactory.MetaCols(f.name))
      .flatMap(f => Seq(physicalOf(f.name), f.name).map(StructField(_, f.dataType)))
    val key = if (keyCol.nonEmpty) Seq(StructField(keyCol, LongType)) else Nil
    StructType((data ++ key).distinctBy(_.name))
  }

  private val readFile: PartitionedFile => Iterator[InternalRow] = {
    val spark = org.apache.spark.sql.SparkSession.active
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, readSchema, new StructType(),
        readSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
  }

  // pval -> (key -> version cut): the in-scan deletion vector
  @transient private lazy val cutsByPval: Map[String, Map[Long, Int]] =
    dvPairs.groupBy(_._1._2).map { case (pval, m) =>
      pval -> m.map { case ((k, _), cut) => k -> cut } }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case ManifestFilePartition(path, pval) => snapshotFile(path, pval)
      case CdfFilePartition(path, ct, v) =>
        fileReader(path, Map(
          "_change_type" -> UTF8String.fromString(ct), "_commit_version" -> v),
          _ => true)
      case CdfDvPartition(path, kc, keys, v) =>
        val k = keyOrdinal(kc)
        val ks = keys.toSet
        fileReader(path, Map("_change_type" -> UTF8String.fromString("delete"),
            "_commit_version" -> v),
          r => !r.isNullAt(k) && ks(r.getLong(k)))
      case ManifestKeyedPartition(paths, _, pval) =>
        // chain the value's files through one reader
        new PartitionReader[InternalRow] {
          private val it = paths.iterator
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (cur == null || !cur.next()) {
              if (cur != null) cur.close()
              if (!it.hasNext) { cur = null; return false }
              cur = snapshotFile(it.next(), pval)
            }
            true
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }

  private def keyOrdinal(kc: String): Int = {
    val k = readSchema.fieldNames.indexOf(kc)
    if (k < 0) throw new IllegalStateException(
      s"manifest scan: deletion-vector key column $kc is not read")
    k
  }

  /** A snapshot file under the version fence: a named (key, pval) pair
    * hides a row only when the row's file dir version sits BELOW the
    * pair's cut — an update vector never hides the copies its own commit
    * appended. The pval side is the FILE's manifest pval (handed in per
    * input partition), exactly what the vector recorded — layout- and
    * era-independent by construction. */
  private def snapshotFile(path: String, pval: String): PartitionReader[InternalRow] = {
    val cuts = cutsByPval.getOrElse(pval, Map.empty)
    val keep: InternalRow => Boolean =
      if (cuts.isEmpty) _ => true
      else {
        val fv = ManifestTable.dirVersionOf(path)
        val k = keyOrdinal(keyCol)
        r => r.isNullAt(k) || !cuts.get(r.getLong(k)).exists(fv < _)
      }
    fileReader(path, Map("_pval" -> UTF8String.fromString(pval)), keep)
  }

  /** Decode one parquet file into rows of `schema`, keeping only rows
    * `keep` admits (tested on the decoded read row); `constants` supplies
    * the metadata columns. */
  private def fileReader(path: String, constants: Map[String, Any],
      keep: InternalRow => Boolean): PartitionReader[InternalRow] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(path), ManifestFileReaderFactory.fileConf)
    // the footer decides RENAME and DEFAULT per file; without either, a
    // requested name the file lacks decodes as null both ways
    val stored: Set[String] =
      if (colmap.isEmpty && defaults.isEmpty) readSchema.fieldNames.toSet
      else {
        val fr = ParquetFileReader.open(in)
        val footer = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
        readSchema.fieldNames.filter(footer.containsField).toSet
      }
    ManifestReaderStats.record(stored.size)
    // output field j is a stored column of the read row, or slot j of a
    // constant row joined after it (metadata value, DEFAULT or null)
    val fixed = new GenericInternalRow(schema.length)
    val exprs = schema.fields.toSeq.zipWithIndex.map { case (f, j) =>
      val src = if (constants.contains(f.name)) None
        else Seq(physicalOf(f.name), f.name).find(stored)
      src match {
        case Some(n) => BoundReference(readSchema.fieldIndex(n), f.dataType, nullable = true)
        case None =>
          fixed.update(j, constants.getOrElse(f.name, defaults.getOrElse(f.name, null)))
          BoundReference(readSchema.length + j, f.dataType, nullable = true)
      }
    }
    val project = UnsafeProjection.create(exprs)
    val joined = new JoinedRow()
    val raw = readFile(PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPath(new Path(path)), 0L, in.getLength,
      fileSize = in.getLength))
    val rows = raw.filter(keep)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        rows.hasNext && { cur = project(joined(rows.next(), fixed)); true }
      override def get(): InternalRow = cur
      override def close(): Unit = raw match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
}

object ManifestFileReaderFactory {
  /** Served columns no data file stores: the reader supplies them. */
  private[sources] val MetaCols = Set("_pval", "_change_type", "_commit_version")
  /** One read-only conf per JVM for file lookups: building a
    * `Configuration` parses its XML resources, tens of ms per task. */
  private lazy val fileConf = new Configuration()
}

/** The WRITE half of the connector — a Structured Streaming SINK that
  * commits EXACTLY ONE table version per epoch (micro-batch), giving the
  * ingest the same commit-boundary semantics the read side consumes:
  * `writeStream.format(...).option("partCol", c)` turns a stream into an
  * append history where every snapshot is one micro-batch's rows.
  *
  * Exactly-once under retries: executors stage per-partition parquet
  * files (public parquet-hadoop writer), the driver's `commit(epoch)`
  * first checks whether any COMMITTED version already carries this
  * (queryId, epoch) marker — a replayed epoch after a crash cleans its
  * stage and returns — then writes the marker, moves the staged files
  * in, and commits the manifest with the atomic rename every verb uses.
  * A crash between marker and manifest leaves an uncommitted marker that
  * the retry overwrites; a crash after the manifest leaves a fully
  * committed epoch the retry detects. Stage debris from aborted epochs
  * is `removeOrphans` food like every other crash path. */
final class ManifestStreamingWrite(base: String, schema: StructType,
    partCol: String, queryId: String, branch: Option[String] = None,
    bucketN: Option[Int] = None, transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new ManifestSinkWriterFactory(base, schema, partCol, bucketN, transform,
      multi)

  private def fs = new Path(base).getFileSystem(new Configuration())

  // STREAMING WAP: with `.option("branch", name)` every epoch commits to
  // the BRANCH's manifest sequence — main never sees the feed until a
  // fastForward/rebasePublish publishes the audited head. Same atomic
  // rename, same exactly-once epoch markers, per-ref file names.
  private def manifestName(v: Int): String =
    branch.map(b => s"branch-$b-v$v.manifest").getOrElse(s"v$v.manifest")
  private def epochName(v: Int): String =
    branch.map(b => s"branch-$b-v$v.epoch").getOrElse(s"v$v.epoch")

  private def committedVersions: Seq[Int] = {
    val dir = new Path(base, "_manifests")
    if (!fs.exists(dir)) Seq.empty
    else branch match {
      case None => fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toInt }.sorted
      case Some(b) =>
        ManifestTable.branchVersions(
          org.apache.spark.sql.SparkSession.active, base, b)
    }
  }
  private def markerLines(v: Int): Option[Seq[String]] = {
    val p = new Path(base, s"_manifests/${epochName(v)}")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.split("\n").toSeq)
      finally in.close()
    }
  }
  private def entriesOf(v: Int): Seq[(String, String)] =
    ManifestTable.entriesAt(org.apache.spark.sql.SparkSession.active,
      new Path(base, s"_manifests/${manifestName(v)}"))

  /** An epoch is durable at version `v` only when the marker's tag
    * matches AND the committed manifest actually names every file the
    * marker listed. The tag alone is not enough: the marker is written
    * BEFORE the manifest rename, so a crash in between followed by an
    * INDEPENDENT commit of version `v` would leave a stale
    * (queryId, epoch) marker on a foreign snapshot — trusting it would
    * silently drop the replayed epoch's data. */
  private def epochDurable(v: Int, tag: String): Boolean =
    markerLines(v) match {
      case Some(lines) if lines.headOption.map(_.trim).contains(tag) =>
        val listed = lines.drop(1).filter(_.nonEmpty)
        val committed = entriesOf(v).map(_._2).toSet
        listed.forall(committed.contains)
      case _ => false
    }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case m: ManifestSinkFiles => m.files
    }.toSeq
    val tag = s"$queryId\t$epochId"
    val vs = committedVersions
    // a branch sink lands on an EXISTING fork only: creating the branch is
    // the user's explicit WAP decision, not a side effect of a typo'd name
    branch.foreach(b => require(vs.nonEmpty,
      s"streaming sink: no branch named '$b' under $base — createBranch first"))
    if (vs.exists(v => epochDurable(v, tag))) {
      // replayed epoch: already durable — drop the re-staged files
      staged.foreach { case (_, p) => fs.delete(new Path(p), false) }
      return
    }
    // validate additive evolution BEFORE anything becomes visible: a
    // retyped column refuses the epoch instead of committing a torn table
    val evolved = ManifestSchemaProp.evolve(
      org.apache.spark.sql.SparkSession.active, base, schema)
    val next = vs.lastOption.getOrElse(0) + 1
    // dest DIR version at-or-above every pending finite vector cut
    // (stageFloor): an epoch is an append that proceeds under pending
    // vectors, and a carried update fence must never hide its fresh
    // rows. The MANIFEST stays at `next` — only the dir name (pure
    // bookkeeping; entries are paths) inflates.
    val dirV = {
      val spark0 = org.apache.spark.sql.SparkSession.active
      math.max(next, if (vs.isEmpty) 0 else branch match {
        case Some(b) => ManifestTable.stageFloorBranch(spark0, base, b)
        case None => ManifestTable.stageFloor(spark0, base)
      })
    }
    // the dest rel paths are known before any move — the marker records
    // them so a later durability check can verify the manifest that
    // committed version `next` is OURS, not a foreign writer's
    val dests = staged.map { case (pval, abs) =>
      (pval, abs, s"files/v$dirV/p=$pval/${new Path(abs).getName}")
    }
    // marker BEFORE the manifest rename: a crash in between leaves an
    // uncommitted marker the retry simply overwrites (or, if a foreign
    // commit takes the version, a marker whose file list fails the
    // containment check above)
    val mp = new Path(base, s"_manifests/${epochName(next)}")
    val out = fs.create(mp, true)
    try out.write((tag +: dests.map(_._3)).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val moved = dests.map { case (pval, abs, rel) =>
      val destDir = new Path(base, s"files/v$dirV/p=$pval")
      fs.mkdirs(destDir)
      if (!fs.rename(new Path(abs), new Path(base, rel)))
        throw new java.io.IOException(s"sink move failed: $abs")
      (pval, rel)
    }
    val prev = vs.lastOption.map(entriesOf).getOrElse(Seq.empty)
    // pending DV markers (main's or the branch's) ride every epoch
    // commit like any other append — dropping one would resurrect rows
    val markers = vs.lastOption.toSeq.flatMap { v =>
      val spark = org.apache.spark.sql.SparkSession.active
      branch match {
        case Some(b) => ManifestTable.dvMarkersAtBranch(spark, base, b, v)
        case None => ManifestTable.dvMarkersAt(spark, base, v)
      }
    }.map((ManifestTable.DvMarker, _))
    ManifestTable.commitNamed(org.apache.spark.sql.SparkSession.active,
      base, manifestName(next), markers ++ prev ++ moved,
      s"concurrent commit: ${manifestName(next)} already exists under $base")
    // stamp the (additively unioned) schema so the catalog serves the
    // late-added columns whatever footer it inspects (schema is TABLE
    // metadata — a branch feed's evolution is visible on main, like
    // Iceberg's table-scoped schema under refs)
    evolved.foreach(s => ManifestTable.setTableProperty(
      org.apache.spark.sql.SparkSession.active, base,
      "schema", ManifestSchemaProp.serialize(s)))
    // stats/bloom sidecars are transactional with EVERY commit verb —
    // the streaming sink included (no-op until a column is indexed).
    // Branch commits carry none (sidecars are per-MAIN-version metadata);
    // the publish refreshes them when the feed joins main.
    if (branch.isEmpty)
      ManifestTable.refreshAllStats(
        org.apache.spark.sql.SparkSession.active, base)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: ManifestSinkFiles =>
        m.files.foreach { case (_, p) => fs.delete(new Path(p), false) }
      case _ =>
    }
}

final case class ManifestSinkFiles(files: Seq[(String, String)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Shared gate for the raw-writer local fast path: the checksum-FS
  * bypass ([[org.apache.parquet.io.LocalOutputFile]] over java.nio) is
  * only sound when the path actually RESOLVES to the local filesystem —
  * a schemeless path under `fs.defaultFS=hdfs://...` resolves remote,
  * and staging its bytes on executor-local disk would strand them when
  * the commit renames through the default FS. So the gate is the
  * resolved FileSystem's type, never a substring test on the string. */
private[sources] object LocalFastPath {
  /** The java.nio path to write through iff `p` resolves local. */
  def nioPath(p: String, conf: Configuration): Option[java.nio.file.Path] = {
    val hp = new Path(p)
    hp.getFileSystem(conf) match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // strips a file:/ scheme if present; schemeless stays as-is
        val raw = Option(hp.toUri.getPath).getOrElse(p)
        Some(java.nio.file.Paths.get(raw))
      case _ => None
    }
  }
}

final class ManifestSinkWriterFactory(base: String, schema: StructType,
    partCol: String, bucketN: Option[Int] = None,
    transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new ManifestSinkWriter(base, schema, partCol, partitionId, taskId, epochId,
      bucketN, transform, multi)
}

/** Executor-side writer: one parquet file per partition value seen by
  * this task, staged under a task-unique dir (no cross-writer races). */
final class ManifestSinkWriter(base: String, schema: StructType,
    partCol: String, partitionId: Int, taskId: Long, epochId: Long,
    bucketN: Option[Int] = None,
    // TIME/TRUNCATE layout: pval is the transform of the source column
    // (see GraftTransform) — the same per-row forms the driver's prune
    // probes replay, so layout and pruning can never disagree
    transform: Option[GraftTransform] = None,
    // MULTI-FIELD spec: pval is the prefixed composite of the fields'
    // components (see GraftSpec)
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.schema.{MessageType, Types, PrimitiveType, LogicalTypeAnnotation}

  private val partIdx = schema.fieldIndex(partCol)
  private val msgType: MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType => b.optional(PrimitiveType.PrimitiveTypeName.INT64).named(f.name)
        case IntegerType => b.optional(PrimitiveType.PrimitiveTypeName.INT32).named(f.name)
        case DoubleType => b.optional(PrimitiveType.PrimitiveTypeName.DOUBLE).named(f.name)
        case StringType => b.optional(PrimitiveType.PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        // DATE is INT32 days since epoch in both parquet and Spark's
        // internal row — no conversion, no timezone
        case DateType => b.optional(PrimitiveType.PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        // TIMESTAMP is INT64 UTC micros in both parquet (adjustedToUTC)
        // and Spark's internal row — no conversion, no session zone
        case TimestampType => b.optional(PrimitiveType.PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case dt => throw new UnsupportedOperationException(
          s"manifest-stream sink: unsupported type $dt for ${f.name}")
      }
    }
    b.named("graft_sink")
  }
  private val factory = new SimpleGroupFactory(msgType)
  private val stage = s"$base/.stage-sink-e$epochId-p$partitionId-t$taskId"
  private val writerConf = new Configuration()
  private val writers = scala.collection.mutable.Map[String,
    org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group]]()
  private val paths = scala.collection.mutable.Map[String, String]()

  private val multiIdx: Option[Seq[Int]] =
    multi.map(_.fields.map(f => schema.fieldIndex(f.col)))

  override def write(row: InternalRow): Unit = {
    val pval = if (multi.isDefined) {
      val sp = multi.get
      val comps = sp.fields.zip(multiIdx.get).map { case (f, i) =>
        require(!row.isNullAt(i),
          s"multi-field spec: NULL value in ${f.col} — layout sources " +
            "must be non-null")
        val dt = schema.fields(i).dataType
        val lv: Long = dt match {
          case LongType => row.getLong(i)
          // TIMESTAMP is long micros in the internal row — a time
          // field's pvalOf projects them through its pinned zone
          case TimestampType => row.getLong(i)
          case IntegerType => row.getInt(i).toLong
          case _ => 0L
        }
        f.pvalOf(dt, lv, if (dt == DateType) row.getInt(i) else 0,
          if (dt == StringType) row.getUTF8String(i).toString else "")
      }
      sp.prefix + comps.mkString("~")
    } else (bucketN, transform) match {
      case (Some(n), _) =>
        // BUCKET layout: pval is the bucket id — the exact expression
        // GraftBucketFunction replays, so layout and report agree
        require(schema.fields(partIdx).dataType == LongType,
          s"bucket layout needs a BIGINT key, got ${schema.fields(partIdx).dataType}")
        require(!row.isNullAt(partIdx),
          s"bucket layout: NULL key in $partCol — bucket keys must be non-null")
        GraftBucketFunction.idOf(n, row.getLong(partIdx)).toString
      case (None, Some(t)) =>
        // TIME/TRUNCATE layout: pval = transform(source value)
        require(!row.isNullAt(partIdx),
          s"transform layout: NULL value in $partCol — layout sources must be non-null")
        schema.fields(partIdx).dataType match {
          case DateType => t.pvalOfDays(row.getInt(partIdx))
          case TimestampType => t.pvalOfMicros(row.getLong(partIdx))
          case StringType => t.pvalOfString(row.getUTF8String(partIdx).toString)
          case LongType => t.pvalOfLong(row.getLong(partIdx))
          case IntegerType => t.pvalOfLong(row.getInt(partIdx).toLong)
          case dt => throw new UnsupportedOperationException(
            s"transform layout over a ${dt.typeName} column")
        }
      case (None, None) => schema.fields(partIdx).dataType match {
        case LongType => row.getLong(partIdx).toString
        case IntegerType => row.getInt(partIdx).toString
        case DoubleType => row.getDouble(partIdx).toString
        case StringType => row.getUTF8String(partIdx).toString
        case DateType => java.time.LocalDate
          .ofEpochDay(row.getInt(partIdx).toLong).toString
        case _ => throw new IllegalStateException("unreachable")
      }
    }
    val w = writers.getOrElseUpdate(pval, {
      // task-unique basename: several tasks of one epoch may hold the
      // same partition value, and commit moves them into one dest dir
      val p = s"$stage/part-$pval-p$partitionId-t$taskId.parquet"
      paths(pval) = p
      // writerConf is shared across this task's per-pval writers: a wide
      // write opens one writer per partition value, and a fresh
      // Configuration per writer costs XML parsing per PARTITION.
      // LOCAL staging bypasses the Hadoop checksum-FS stream stack
      // (LocalOutputFile): a writer LIFECYCLE drops 14.5 ms -> 1.7 ms,
      // which is the dominant cost of a wide layout's write (6000
      // truncate bands = 6000 writers); paths that RESOLVE remote
      // (hdfs://, s3a://, or schemeless under a remote fs.defaultFS)
      // keep the Hadoop route — see LocalFastPath.
      val b = LocalFastPath.nioPath(p, writerConf) match {
        case Some(nio) =>
          // nio streams don't create parents the way Hadoop create() does
          nio.getParent.toFile.mkdirs()
          ExampleParquetWriter.builder(
            new org.apache.parquet.io.LocalOutputFile(nio))
        case None => ExampleParquetWriter.builder(new Path(p))
      }
      b.withConf(writerConf).withType(msgType).build()
    })
    val g = factory.newGroup()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) f.dataType match {
        case LongType | TimestampType => g.add(f.name, row.getLong(i))
        case IntegerType | DateType => g.add(f.name, row.getInt(i))
        case DoubleType => g.add(f.name, row.getDouble(i))
        case StringType => g.add(f.name, row.getUTF8String(i).toString)
        case _ => ()
      }
    }
    w.write(g)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writers.values.foreach(_.close())
    ManifestSinkFiles(paths.toSeq.map { case (pval, p) => (pval, p) })
  }
  override def abort(): Unit = {
    writers.values.foreach(w => scala.util.Try(w.close()))
    val fs = new Path(base).getFileSystem(new Configuration())
    fs.delete(new Path(stage), true)
  }
  override def close(): Unit = ()
}

/** Batch APPEND through the connector — what SQL `INSERT INTO
  * graft_cat.\`t\` SELECT ...` resolves to: the same staged-files +
  * atomic-manifest-rename commit as the APPEND verb, with the layout
  * column taken from the table's stored `partCol` property. Only append
  * is offered (the format's other verbs are transactional APIs, not SQL
  * overwrites); Spark runs one commit per query, so no epoch marker is
  * needed. */
final class ManifestBatchAppend(base: String, schema: StructType, partCol: String,
    bucketN: Option[Int] = None, transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestBatchWriterFactory(base, schema, partCol, bucketN, transform,
      multi)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    val staged = messages.flatMap { case m: ManifestSinkFiles => m.files }.toSeq
    val spark = org.apache.spark.sql.SparkSession.active
    val evolved = ManifestSchemaProp.evolve(spark, base, schema)
    val glob = fs.globStatus(new Path(base, "_manifests/v*.manifest"))
    val hasCommits = glob != null && glob.nonEmpty
    val readV = if (hasCommits) ManifestTable.currentVersion(spark, base) else 0
    // dest dir at-or-above every pending FINITE vector cut (stageFloor):
    // an INSERT is the one COW-free main write that proceeds under
    // pending vectors, so its fresh rows must stage where no carried
    // update fence can hide them (the dir name is bookkeeping — entries
    // are paths — so inflating it is free)
    val next = math.max(readV + 1,
      if (hasCommits) ManifestTable.stageFloor(spark, base) else 0)
    val moved = ManifestTable.moveStagedFiles(fs, base, next, staged, "insert")
    // an INSERT is a pure append: losing the version race to a concurrent
    // writer rebases onto the winner's entries and retries (the dest dir's
    // version name is bookkeeping — entries are paths). A first write to
    // an uncommitted base tries v1 directly; losing THAT race (two
    // concurrent first INSERTs) rebases onto the winner's v1 like any
    // other append instead of failing with orphaned staged files
    if (hasCommits) ManifestTable.commitRetrying(spark, base, readV, moved, None)
    else {
      try ManifestTable.commit(spark, base, 1, moved)
      catch {
        case _: ManifestTable.VersionConflictException =>
          ManifestTable.commitRetrying(spark, base,
            ManifestTable.currentVersion(spark, base), moved, None)
      }
    }
    evolved.foreach(s => ManifestTable.setTableProperty(
      spark, base, "schema", ManifestSchemaProp.serialize(s)))
    // sidecars ride every commit verb, SQL INSERT included — without this
    // an insert into a stats/bloom-indexed table would strand readPruned
    // on a stale index
    ManifestTable.refreshAllStats(spark, base)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    messages.foreach {
      case m: ManifestSinkFiles =>
        m.files.foreach { case (_, p) => fs.delete(new Path(p), false) }
      case _ =>
    }
  }
}

/** Batch APPEND to a BRANCH — `INSERT INTO graft_cat.\`t$branch_<n>\``:
  * identical staging to [[ManifestBatchAppend]], committed to the
  * branch's manifest sequence with the append rebase retry. The branch
  * must exist (a typo'd name must not fork implicitly). */
final class ManifestBranchAppend(base: String, branch: String,
    schema: StructType, partCol: String, bucketN: Option[Int] = None,
    transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestBatchWriterFactory(base, schema, partCol, bucketN, transform,
      multi)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    val staged = messages.flatMap { case m: ManifestSinkFiles => m.files }.toSeq
    val spark = org.apache.spark.sql.SparkSession.active
    val head0 = ManifestTable.branchVersions(spark, base, branch)
    require(head0.nonEmpty,
      s"INSERT INTO branch: no branch named '$branch' under $base — createBranch first")
    val evolved = ManifestSchemaProp.evolve(spark, base, schema)
    // dir floored at pending branch cuts, like appendBranch (the fence
    // must never hide a branch INSERT's fresh rows)
    val next = math.max(head0.last + 1,
      ManifestTable.stageFloorBranch(spark, base, branch))
    val moved = staged.map { case (pval, abs) =>
      val destDir = new Path(base, s"files/v$next/p=$pval")
      fs.mkdirs(destDir)
      val dest = new Path(destDir, new Path(abs).getName)
      if (!fs.rename(new Path(abs), dest))
        throw new java.io.IOException(s"branch insert move failed: $abs")
      (pval, s"files/v$next/p=$pval/${dest.getName}")
    }
    // branch-scoped append retry: losing the name race rebases onto the
    // winner's branch head (appends commute), exactly like appendBranch;
    // pending branch DV markers ride the rebase — dropping one would
    // silently resurrect rows
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val head = ManifestTable.branchVersions(spark, base, branch).last
      val es = ManifestTable.entriesAt(spark,
        new Path(base, s"_manifests/branch-$branch-v$head.manifest"))
      val markers = ManifestTable.dvMarkersAtBranch(spark, base, branch, head)
        .map((ManifestTable.DvMarker, _))
      try {
        ManifestTable.commitNamed(spark, base,
          s"branch-$branch-v${head + 1}.manifest", markers ++ es ++ moved,
          s"concurrent commit: branch $branch version ${head + 1} already exists")
        done = true
      } catch {
        case _: ManifestTable.VersionConflictException if attempt < 20 => ()
      }
    }
    evolved.foreach(s => ManifestTable.setTableProperty(
      spark, base, "schema", ManifestSchemaProp.serialize(s)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(base).getFileSystem(new Configuration())
    messages.foreach {
      case m: ManifestSinkFiles =>
        m.files.foreach { case (_, p) => fs.delete(new Path(p), false) }
      case _ =>
    }
  }
}

/** Standalone (serializable) factory for the batch-append writers. */
final class ManifestBatchWriterFactory(base: String, schema: StructType,
    partCol: String, bucketN: Option[Int] = None,
    transform: Option[GraftTransform] = None,
    multi: Option[GraftSpec] = None)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new ManifestSinkWriter(base, schema, partCol, partitionId, taskId, -1L,
      bucketN, transform, multi)
}
