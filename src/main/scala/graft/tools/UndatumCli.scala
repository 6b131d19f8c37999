package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Analyzer, UndatumOps}
import graft.sources.Converter

/** The reference's command-line surface mapped 1:1 onto this library
  * (undatum/core.py:33-345 — typer commands convert/uniq/headers/
  * stats/flatten/frequency/select/split/validate/scheme/analyze/
  * query), so a reference user can run the commands they run today
  * against the Spark engine:
  *
  * {{{
  *   sbt "runMain graft.tools.UndatumCli convert in.csv --output out.jsonl"
  *   sbt "runMain graft.tools.UndatumCli uniq in.jsonl --fields source"
  *   sbt "runMain graft.tools.UndatumCli frequency in.csv --fields lang"
  *   sbt "runMain graft.tools.UndatumCli select in.csv --fields a,b --filter \"`x` == 1\""
  *   sbt "runMain graft.tools.UndatumCli stats in.csv"
  *   sbt "runMain graft.tools.UndatumCli split in.csv --fields lang --output dir"
  *   sbt "runMain graft.tools.UndatumCli validate in.csv --fields email --rule email --mode stats"
  *   sbt "runMain graft.tools.UndatumCli query in.csv --query \"SELECT a, count(*) FROM data GROUP BY 1\""
  * }}}
  *
  * Flag names follow the reference (`--fields`, `--filter dictquery`,
  * `--format-in/--format-out`, `--delimiter`, `--encoding`,
  * `--tagname`, `--output`, `--dictshare`, `--chunksize`, `--rule`,
  * `--mode`, `--limit`). Formats are inferred from the file extension
  * when not forced, through the same dispatch `analyze` uses. Results
  * print to stdout, or write through the format matrix when
  * `--output` is given. `ingest` (network sink) and autodoc (external
  * AI service) are the documented out-of-scope commands.
  */
object UndatumCli {

  private def usage(): Nothing = {
    System.err.println(
      """usage: UndatumCli <command> <input> [--flag value ...]
        |commands: convert headers stats uniq frequency select flatten
        |          split validate scheme schema schema_bulk analyze query
        |store commands (extensions over the encoded token store):
        |          encode <tokenrows.parquet> --output <storeDir>
        |          decode <storeDir> [--output out]
        |          searchenc <storeDir> --lo N --hi N [--source s]
        |          phraseenc <storeDir> --tokens a,b,c  (contiguous phrase)
        |          conjenc <storeDir> --tokens a,b,c  (docs with ALL tokens)
        |          bm25enc <storeDir> --tokens a,b,c [--topk N]  (ranked)
        |          nearenc <storeDir> --tokens a,b [--window N]  (NEAR)
        |          statenc <storeDir>  (per-codec stats, metadata only)
        |          countenc <storeDir> --lo N --hi N
        |          frequencyenc <storeDir> [--lo N --hi N] [--by-source 1]
        |          driftenc <storeDir>   (per-source KL vs pool, micro-nats)
        |          getenc <storeDir> --doc id[,id...]  (bloom point lookup)
        |          perplexenc <storeDir> [--topk N]  (unigram-LM doc NLL)
        |          bigramenc <storeDir>  (adjacent-pair frequency)
        |          pmienc <storeDir> [--topk N] [--min-count N]  (collocations)
        |          sourcesenc <storeDir>  (per-source counts, metadata-only)
        |          auditenc <storeDir> [--mode verify]  (integrity fsck)
        |          indexenc <storeDir>  (token-bloom index; search uses it)
        |          headenc <storeDir> [--limit N]  (O(n) bounded preview)
        |          knenc <storeDir> [--pairs N]  (Kneser-Ney doc NLL)
        |          curateenc <storeDir> --output <newStore> --max-nll N
        |          deleteenc <storeDir> --output <newStore> --doc id[,id...]
        |          mergeenc <storeDir> --with <store2>[,...] --output <newStore>
        |          compactenc <storeDir> --output <newStore>
        |          recodeenc <storeDir> --output <newStore> [--rows-per-part N]
        |flags:    --output --fields --filter --query --format-in
        |          --format-out --delimiter --encoding --tagname
        |          --dictshare --chunksize --rule --mode --limit
        |          --lo --hi --source --by-source --doc --topk --pairs
        |          --tokens --max-nll --rows-per-part --with --window
        |          --min-count""".stripMargin)
    sys.exit(2)
  }

  private def parseFlags(args: Seq[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--")) usage()
      if (i + 1 >= args.length) usage()
      m(a.drop(2)) = args(i + 1)
      i += 2
    }
    m.toMap
  }

  /** Flag errors inside run(): a catchable exception, NOT sys.exit —
    * run() is library-exposed (the spec and sbt-console sessions call
    * it); killing the host JVM over a missing flag is main()'s job.
    */
  private def argError(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg (run UndatumCli with no args for usage)")

  def main(args: Array[String]): Unit = {
    if (args.length < 2) usage()
    val cmd = args(0)
    val input = args(1)
    val flags = parseFlags(args.drop(2).toIndexedSeq)
    val spark = Sessions.create("graft-undatum-cli")
    try {
      val out =
        try run(spark, cmd, input, flags)
        catch { case e: IllegalArgumentException =>
          System.err.println(s"error: ${e.getMessage}")
          usage()
        }
      out match {
        case Some(df) =>
          flags.get("output") match {
            case Some(path) =>
              Converter.write(df, path,
                flags.getOrElse("format-out", formatOfPath(path)))
              println(s"written: $path")
            case None =>
              df.show(flags.getOrElse("limit", "50").toInt, truncate = false)
          }
        case None => () // command wrote its own output (split)
      }
    } finally spark.stop()
  }

  private def formatOfPath(p: String): String =
    // the ONE extension table analyzeFile also uses; sinks default
    // to jsonl (the reference's favorite interchange)
    Converter.formatOfExtension(p, "jsonl")

  private def readInput(spark: SparkSession, input: String,
                        flags: Map[String, String]): DataFrame = {
    // an explicit read option forces the explicit-read path even when
    // --format-in is absent (otherwise analyzeFile would sniff its own
    // encoding/delimiter and silently override the user's flags)
    val explicitOpts =
      Seq("delimiter", "encoding", "tagname").exists(flags.contains)
    val fmt = flags.getOrElse("format-in",
      if (explicitOpts) Converter.formatOfExtension(input, "csv") else "")
    if (fmt.isEmpty)
      // analyze's dispatch: container unpack + extension + sniff
      Analyzer.analyzeFile(spark, input).df
    else
      Converter.read(spark, input, Converter.ReadOptions(fmt,
        delimiter = flags.getOrElse("delimiter", ","),
        encoding = flags.getOrElse("encoding", "UTF-8"),
        tagname = flags.getOrElse("tagname", "")))
  }

  private def fieldsOf(flags: Map[String, String]): Seq[String] =
    flags.get("fields").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)

  private def withFilter(df: DataFrame, flags: Map[String, String]): DataFrame =
    flags.get("filter").map(UndatumOps.filterDsl(df, _)).getOrElse(df)

  /** Dispatch one command; Some(result frame) or None when the command
    * produced its own side output. Exposed for the spec.
    */
  def run(spark: SparkSession, cmd: String, input: String,
          flags: Map[String, String]): Option[DataFrame] = cmd match {
    case "convert" =>
      // result frame = the converted table (written by main via
      // --output, exactly the reference's convert IN OUT)
      Some(withFilter(readInput(spark, input, flags), flags))
    case "headers" =>
      Some(UndatumOps.headers(readInput(spark, input, flags)))
    case "stats" =>
      val df = readInput(spark, input, flags)
      val fs = fieldsOf(flags) match {
        case Nil => df.columns.toSeq
        case some => some
      }
      Some(UndatumOps.fieldStats(df, fs,
        flags.getOrElse("dictshare", "70").toDouble))
    case "uniq" =>
      val df = withFilter(readInput(spark, input, flags), flags)
      // no --fields = whole-record dedup (the reference's default)
      Some(UndatumOps.uniq(df, fieldsOf(flags) match {
        case Nil => df.columns.toSeq
        case some => some
      }))
    case "frequency" =>
      fieldsOf(flags) match {
        case Nil => argError("frequency needs --fields") // key fields required
        case fs => Some(UndatumOps.frequency(
          withFilter(readInput(spark, input, flags), flags), fs))
      }
    case "select" =>
      val df = withFilter(readInput(spark, input, flags), flags)
      Some(fieldsOf(flags) match {
        case Nil => df // no --fields = all columns (filter-only select)
        case fs => UndatumOps.select(df, fs)
      })
    case "flatten" =>
      Some(UndatumOps.flattenCounts(readInput(spark, input, flags)))
    case "split" =>
      val df = withFilter(readInput(spark, input, flags), flags)
      val dir = flags.getOrElse("output", argError("split needs --output"))
      fieldsOf(flags) match {
        case Seq(f) => UndatumOps.splitByField(df, f, dir)
        case Nil => UndatumOps.splitByChunk(df,
          flags.getOrElse("chunksize", "10000").toInt, dir)
        case _ => argError("split takes at most one --fields column")
      }
      println(s"split written: $dir")
      None
    case "validate" =>
      val df = readInput(spark, input, flags)
      val f = fieldsOf(flags) match {
        case Seq(one) => one
        case _ => argError("validate needs exactly one --fields column")
      }
      val rule = flags.getOrElse("rule", "email") match {
        case "email" => graft.functions.Validators.isEmailCol(col(f))
        case "url" => graft.functions.Validators.isUrlCol(col(f))
        case "inn" => graft.functions.Validators.innUdf(col(f))
        case "ogrn" => graft.functions.Validators.ogrnUdf(col(f))
        case r => throw new IllegalArgumentException(s"unknown rule: $r")
      }
      Some(flags.getOrElse("mode", "invalid") match {
        case "stats" => UndatumOps.validateStats(df, rule)
        case _ => UndatumOps.validateInvalid(df, rule)
      })
    case "scheme" =>
      Some(Analyzer.scheme(readInput(spark, input, flags)))
    case "schema" =>
      // reference `schema` (core.py:279, schemer.py:188-190): one
      // file's field layout + its xxhash64 identity key (schemer.py:
      // 40-41 hashes the '|'-joined sorted names; Spark's xxhash64 is
      // the engine form — signed long vs the reference's hex digest,
      // the documented q_schema_fingerprint delta)
      Some(schemaOf(readInput(spark, input, flags)))
    case "schema_bulk" =>
      // reference `schema_bulk` (core.py:293, schemer.py:193-243):
      // group a directory's data files by schema key. mode=distinct
      // (default) = one row per distinct schema with its file list;
      // mode=perfile = one row per file. The reference writes one YAML
      // per schema; this engine returns the grouping as a frame
      // (write via --output), same identity semantics.
      val dirF = new java.io.File(input)
      if (!dirF.isDirectory) argError("schema_bulk needs a directory input")
      val recognized = Seq("csv", "json", "jsonl", "parquet")
      val codecs = Seq("gz", "bz2", "xz", "zst", "zstd")
      val files = Option(dirF.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile)
        .filter { f =>
          val n = f.getName.toLowerCase
          recognized.exists(e => n.endsWith(s".$e") ||
            codecs.exists(c => n.endsWith(s".$e.$c")))
        }.sortBy(_.getName)
      val mode = flags.getOrElse("mode", "distinct")
      println(s"Found ${files.length} files. Processing mode $mode")
      import spark.implicits._
      val per = files.toSeq.map { f =>
        val df = Analyzer.analyzeFile(spark, f.getPath).df
        val names = UndatumOps.headerPaths(df.schema)
        (f.getName, names.sorted.mkString("|"), names.length, isFlat(df))
      }
      val base = per.toDF("file", "fields", "num_cols", "is_flat")
        .withColumn("schema_key", xxhash64(col("fields")))
      Some(mode match {
        case "perfile" => base
          .select("file", "schema_key", "num_cols", "is_flat", "fields")
          .orderBy("file")
        case "distinct" => base
          // ONE row per schema key, like the reference (schemer.py
          // groups purely by the name-hash key): fields/num_cols are
          // functions of the key; is_flat can differ across files
          // sharing it (x:int vs x:[int]), so report the conjunction
          .groupBy("schema_key", "fields", "num_cols")
          .agg(min(col("is_flat")).as("is_flat"),
            count(lit(1)).cast("long").as("n_files"),
            sort_array(collect_list(col("file"))).as("files"))
          .orderBy("schema_key")
        case m => argError(s"unknown schema_bulk mode: $m")
      })
    case "analyze" =>
      val fa = Analyzer.analyzeFile(spark, input,
        flags.getOrElse("format-in", ""))
      println(s"container=${fa.container} format=${fa.format} " +
        s"encoding=${fa.encoding} delimiter='${fa.delimiter}'")
      Some(Analyzer.report(fa.df))
    case "query" =>
      // the reference's mistql `query` — subsumed by SQL over the
      // input registered as table `data`
      val df = readInput(spark, input, flags)
      df.createOrReplaceTempView("data")
      Some(spark.sql(flags.getOrElse("query", argError("query needs --query SQL"))))

    // ---- encoded-token-store extensions (no reference equivalent:
    // the reference has no sub-file codecs; these expose the
    // graft.encode pipeline + compressed-domain search via the same
    // CLI conventions) ----------------------------------------------
    case "encode" =>
      // input: a TokenRow-shaped parquet (doc_id, tokens, n_tok, source)
      import spark.implicits._
      val dir = flags.getOrElse("output", argError("encode needs --output <storeDir>"))
      val rows = spark.read.parquet(input)
        .select(col("doc_id").cast("string").as("doc_id"),
          col("tokens").cast("array<int>").as("tokens"),
          col("n_tok").cast("int").as("n_tok"),
          col("source").cast("string").as("source"))
        .as[graft.model.TokenRow]
      val lineage = graft.encode.TokenEncoder.run(rows, dir,
        graft.encode.TokenEncoder.EncodeConfig(
          targetRowsPerPart = flags.getOrElse("rows-per-part", "50000").toInt,
          inputFile = input,
          // parquet-backed input: a pruned re-scan beats materializing
          // the whole token table (EncodeConfig doc; every other
          // parquet-backed caller does the same)
          cacheInput = false))
      // prints its own summary and returns None: --output here IS the
      // store dir, so main()'s generic write-the-result-to---output
      // epilogue must not fire (it would overwrite the just-encoded
      // store with the 1-row summary)
      val sm = lineage.toDF()
        .agg(count(lit(1)), sum("totalTokens"), sum("rawBytes"),
          sum("encodedBytes")).collect()(0)
      println(s"encoded: $dir blocks=${sm.getLong(0)} " +
        s"tokens=${sm.getLong(1)} raw_bytes=${sm.getLong(2)} " +
        s"enc_bytes=${sm.getLong(3)}")
      None
    case "curateenc" =>
      // quality-gated rewrite store->store; like encode, --output IS
      // the new store dir, so the generic epilogue must not fire
      val out = flags.getOrElse("output",
        argError("curateenc needs --output <newStoreDir>"))
      val maxNll = flags.getOrElse("max-nll",
        argError("curateenc needs --max-nll <micro-nats>")).toLong
      val lineage = graft.encode.CompressedSearch.storeQualityFilter(
        spark, input, out, maxNll,
        flags.getOrElse("topk", "512").toInt,
        graft.encode.TokenEncoder.EncodeConfig(
          targetRowsPerPart = flags.getOrElse("rows-per-part", "50000").toInt,
          inputFile = input))
      val sm = lineage.toDF()
        .agg(count(lit(1)), coalesce(sum("rowCount"), lit(0L))).collect()(0)
      println(s"curated: $out blocks=${sm.getLong(0)} rows=${sm.getLong(1)}")
      None
    case "deleteenc" =>
      // surgical delete store->store; --output IS the new store dir
      // (fresh-dir contract), so the generic epilogue must not fire
      val out = flags.getOrElse("output",
        argError("deleteenc needs --output <newStoreDir>"))
      val ids = flags.getOrElse("doc",
        argError("deleteenc needs --doc id[,id...]"))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (ids.isEmpty)
        argError("--doc must list at least one id (an empty delete " +
          "would burn a full store copy for nothing)")
      val (total, copied, reenc, deleted) =
        graft.encode.TokenEncoder.deleteDocs(spark, input, out, ids)
      println(s"deleted: $out parts=$total copied=$copied " +
        s"reencoded=$reenc rows_deleted=$deleted")
      None
    case "mergeenc" =>
      // store union store->store; --output IS the new store dir
      // (fresh-dir contract), so the generic epilogue must not fire.
      // Same-plan inputs concatenate at the parquet row level (zero
      // decode); otherwise the merge re-encodes under a fresh plan.
      val out = flags.getOrElse("output",
        argError("mergeenc needs --output <newStoreDir>"))
      val others = flags.getOrElse("with",
        argError("mergeenc needs --with <storeDir>[,storeDir...]"))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (others.isEmpty)
        argError("--with must list at least one store dir")
      val mr = graft.encode.TokenEncoder
        .mergeStores(spark, input +: others, out)
      println(s"merged: $out stores=${1 + others.size} rows=${mr.rowsTotal} " +
        (if (mr.rowLevel)
          s"blocks_copied=${mr.blocksCopied} (row-level, zero decode)"
         else s"reencoded (${mr.fallbackReason.getOrElse("fallback")})"))
      None
    case "recodeenc" =>
      // full rewrite under a FRESH plan sized for the store's current
      // content — the repair for overflow-band skew after a long
      // pinned-plan ingest (compactenc keeps the plan; this resizes it)
      val out = flags.getOrElse("output",
        argError("recodeenc needs --output <newStoreDir>"))
      graft.encode.TokenEncoder.requireFreshDir(out, "recodeenc")
      val cfg0 = graft.encode.TokenEncoder.EncodeConfig(
        targetRowsPerPart = flags.get("rows-per-part").map(_.toInt)
          .getOrElse(50000),
        inputFile = "recode")
      val lin = graft.encode.TokenEncoder.run(
        graft.encode.TokenDecoder.read(spark, input), out, cfg0)
      val n = lin.toDF()
        .agg(coalesce(sum("rowCount"), lit(0L))).first().getLong(0)
      println(s"recoded: $out rows=$n")
      None
    case "compactenc" =>
      // selective compaction store->store; --output IS the new store
      // dir (fresh-dir contract), so the generic epilogue must not fire
      val out = flags.getOrElse("output",
        argError("compactenc needs --output <newStoreDir>"))
      val cr = graft.encode.TokenEncoder.compactStore(spark, Seq(input), out)
      println(s"compacted: $out parts=${cr.partsTotal} " +
        s"copied=${cr.partsCopied} reencoded=${cr.partsReencoded} " +
        s"blocks=${cr.blocksBefore}->${cr.blocksAfter} rows=${cr.rowsTotal}")
      None
    case "headenc" =>
      // bounded preview: decodes only enough blocks for --limit rows
      Some(graft.encode.TokenDecoder.readHead(spark, input,
        flags.get("limit").map(_.toInt).getOrElse(10)).toDF())
    case "decode" =>
      Some(graft.encode.TokenDecoder.read(spark, input).toDF())
    case "searchenc" =>
      val (lo, hi) = requiredRange(flags)
      Some(flags.get("source") match {
        case Some(src) => graft.encode.CompressedSearch
          .searchDocsInSource(spark, input, src, lo, hi).orderBy("doc_id")
        case None => graft.encode.CompressedSearch
          .searchDocs(spark, input, lo, hi).orderBy("doc_id")
      })
    case "phraseenc" =>
      Some(graft.encode.CompressedSearch
        .phraseSearchDocs(spark, input, requiredTokens(flags))
        .orderBy("doc_id"))
    case "conjenc" =>
      Some(graft.encode.CompressedSearch
        .searchDocsWithAll(spark, input, requiredTokens(flags))
        .orderBy("doc_id"))
    case "bm25enc" =>
      Some(graft.encode.CompressedSearch.bm25TopK(spark, input,
        requiredTokens(flags), flags.getOrElse("topk", "10").toInt))
    case "statenc" =>
      // per-codec store statistics from block metadata only
      Some(graft.encode.CompressedSearch.storeStats(spark, input))
    case "nearenc" =>
      val ts = requiredTokens(flags)
      if (ts.length != 2)
        argError("nearenc needs exactly two tokens: --tokens a,b")
      Some(graft.encode.CompressedSearch
        .proximitySearchDocs(spark, input, ts(0), ts(1),
          flags.getOrElse("window", "5").toInt)
        .orderBy("doc_id"))
    case "countenc" =>
      val (lo, hi) = requiredRange(flags)
      Some(graft.encode.CompressedSearch.countTokens(spark, input, lo, hi))
    case "frequencyenc" =>
      // range optional: the default is the full-vocabulary histogram;
      // --by-source splits the histogram per source (source-pure
      // blocks attribute compressed-domain, overflow blocks row-wise)
      val lo = flags.get("lo").map(_.toInt).getOrElse(Int.MinValue)
      val hi = flags.get("hi").map(_.toInt).getOrElse(Int.MaxValue)
      Some(
        if (flags.contains("by-source"))
          graft.encode.CompressedSearch.sourceTokenFrequency(spark, input, lo, hi)
            .orderBy(col("n_occ").desc, col("source"), col("token"))
        else
          graft.encode.CompressedSearch.tokenFrequency(spark, input, lo, hi)
            .orderBy(col("n_occ").desc, col("token")))
    case "getenc" =>
      // point lookup: per-block doc-id Blooms reject blocks from
      // metadata; only may-contain blocks decode
      val ids = flags.getOrElse("doc",
        argError("getenc needs --doc id[,id...]")).split(",").toSeq
      Some(graft.encode.TokenDecoder.readDocsById(spark, input, ids)
        .toDF().orderBy("doc_id"))
    case "perplexenc" =>
      // unigram-LM doc scoring over the encoded store: model from the
      // compressed-domain histogram, one decode pass; worst docs first
      val topk = flags.getOrElse("topk", "512").toInt
      Some(graft.encode.CompressedSearch.storePerplexity(spark, input, topk)
        .orderBy(col("mean_nll_micro").desc, col("doc_id")))
    case "bigramenc" =>
      // adjacent-token pair frequency over the encoded store
      Some(graft.encode.CompressedSearch.storeBigramFrequency(spark, input)
        .orderBy(col("n_occ").desc, col("tok_a"), col("tok_b")))
    case "indexenc" =>
      // build/refresh the secondary token-bloom index; searchenc /
      // phraseenc / conjenc / nearenc / bm25enc / countenc consult it
      // transparently when present
      val n = graft.encode.TokenIndex.build(spark, input)
      println(s"indexed: ${graft.encode.TokenIndex.path(input)} blocks=$n")
      None
    case "auditenc" =>
      // per-partition integrity report (markers vs lineage vs blocks);
      // --mode verify additionally decodes and re-hashes every block
      Some(graft.encode.TokenDecoder.auditStore(spark, input,
        verifyChecksums = flags.get("mode").contains("verify")))
    case "sourcesenc" =>
      // per-source doc/token counts at metadata cost (payload unread)
      Some(graft.encode.CompressedSearch.sourceStats(spark, input))
    case "pmienc" =>
      // top-k adjacent-pair collocations by pointwise mutual information
      Some(graft.encode.CompressedSearch.storePmiTopK(spark, input,
        k = flags.get("topk").map(_.toInt).getOrElse(30),
        minCount = flags.get("min-count").map(_.toLong).getOrElse(5L)))
    case "knenc" =>
      // Kneser-Ney bigram scoring, model trained from the store itself
      val pairs = flags.getOrElse("pairs", "4096").toInt
      Some(graft.encode.CompressedSearch.storeKnPerplexity(spark, input, pairs)
        .orderBy(col("ppl_micro").desc, col("doc_id")))
    case "driftenc" =>
      // per-source KL drift vs the corpus pool, micro-nats
      Some(graft.encode.CompressedSearch.sourceKlDrift(spark, input)
        .orderBy("source"))
    case _ => argError(s"unknown command: $cmd")
  }

  /** flat = no nested/array/map column (schemer.py:171-174 flips
    * is_flat on STRUCT or array fields).
    */
  private def isFlat(df: DataFrame): Boolean =
    !df.schema.fields.exists(f => f.dataType match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.MapType => true
      case _ => false
    })

  /** One file's schema table: a row per top-level field plus the
    * table-level identity (key over nested dot paths, sorted — the
    * same definition as Analyzer.schemaFingerprint). num_cols counts
    * LEAF PATHS like the reference's duckdb_decompose (and like
    * schema_bulk), not top-level fields — the two commands must agree
    * on a nested file.
    */
  private def schemaOf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val paths = UndatumOps.headerPaths(df.schema)
    val joined = paths.sorted.mkString("|")
    df.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString,
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
      .toDF("field", "ftype", "is_array")
      .withColumn("schema_key", xxhash64(lit(joined)))
      .withColumn("num_cols", lit(paths.length))
      .withColumn("is_flat", lit(isFlat(df)))
  }

  private def requiredRange(flags: Map[String, String]): (Int, Int) =
    (flags.getOrElse("lo", argError("this command needs --lo")).toInt,
      flags.getOrElse("hi", argError("this command needs --hi")).toInt)

  private def requiredTokens(flags: Map[String, String]): Array[Int] = {
    val ts = flags.getOrElse("tokens",
      argError("this command needs --tokens a,b,c"))
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)
    if (ts.isEmpty) argError("--tokens must list at least one token")
    ts
  }
}
