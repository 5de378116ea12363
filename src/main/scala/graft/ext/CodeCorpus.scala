package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Code-corpus preparation tier — the operators a code-LLM pipeline
  * runs over raw repository files: language identification
  * (extension map + shebang override), license detection (SPDX tag +
  * header-phrase fingerprints), per-file quality statistics (line
  * shape, alnum fraction, comment density, autogeneration markers),
  * Jupyter-notebook cell extraction, fill-in-the-middle splitting,
  * repository-level context packing, and unified-diff statistics.
  *
  * All operators are narrow single-pass scans except [[repoPack]]
  * (one shuffle keyed by repository — the natural unit of its
  * output, with per-repo state bounded by the pack budget). Exact
  * integer counts only; no RNG, no UDFs, nothing leaves whole-stage
  * codegen.
  */
object CodeCorpus {

  /** Extension → language for the common code-corpus set. Lowercase
    * keys; ANSI-safe lookup via try_element_at. */
  private val extLang: Map[String, String] = Map(
    "py" -> "python", "pyi" -> "python",
    "scala" -> "scala", "sbt" -> "scala", "sc" -> "scala",
    "js" -> "javascript", "mjs" -> "javascript", "cjs" -> "javascript",
    "jsx" -> "javascript",
    "ts" -> "typescript", "tsx" -> "typescript",
    "java" -> "java",
    "c" -> "c", "h" -> "c",
    "cpp" -> "cpp", "cc" -> "cpp", "cxx" -> "cpp", "hpp" -> "cpp",
    "hh" -> "cpp",
    "go" -> "go", "rs" -> "rust", "rb" -> "ruby", "php" -> "php",
    "cs" -> "csharp", "fs" -> "fsharp",
    "sh" -> "shell", "bash" -> "shell", "zsh" -> "shell",
    "kt" -> "kotlin", "kts" -> "kotlin", "swift" -> "swift",
    "pl" -> "perl", "pm" -> "perl", "lua" -> "lua", "r" -> "r",
    "jl" -> "julia", "hs" -> "haskell", "ex" -> "elixir",
    "exs" -> "elixir", "erl" -> "erlang", "clj" -> "clojure",
    "ml" -> "ocaml", "mli" -> "ocaml", "dart" -> "dart",
    "sql" -> "sql", "md" -> "markdown", "rst" -> "text",
    "txt" -> "text", "json" -> "json", "ipynb" -> "notebook",
    "yml" -> "yaml", "yaml" -> "yaml", "toml" -> "toml",
    "xml" -> "xml", "html" -> "html", "htm" -> "html", "css" -> "css",
    "proto" -> "protobuf", "tf" -> "terraform")

  /** Interpreter-basename prefix → language for shebang lines, in
    * match order (first prefix hit wins; "sh" after "zsh"/"bash" so
    * the specific shells win the prefix race). */
  private val shebangLang: Seq[(String, String)] = Seq(
    "python" -> "python", "node" -> "javascript", "deno" -> "javascript",
    "bash" -> "shell", "zsh" -> "shell", "dash" -> "shell",
    "sh" -> "shell", "perl" -> "perl", "ruby" -> "ruby",
    "rscript" -> "r", "php" -> "php", "lua" -> "lua")

  /** Extensionless well-known filenames (exact lowercase match). */
  private val nameLang: Map[String, String] = Map(
    "makefile" -> "makefile", "gnumakefile" -> "makefile",
    "dockerfile" -> "dockerfile", "cmakelists.txt" -> "cmake",
    "rakefile" -> "ruby", "gemfile" -> "ruby")

  /** Language identification for repository files: the lowercase
    * extension of the last path segment maps through the common
    * code-corpus table; a `#!` first line OVERRIDES the extension
    * (the `.txt`-that-is-a-script case — interpreter basename,
    * `env`-aware, matched case-insensitively by prefix so
    * `python3.11` → python); and a handful of well-known filenames
    * (Makefile, Dockerfile, CMakeLists.txt) match exactly, so the
    * extension map never sees `.txt` win over CMakeLists. Dotfiles
    * without a second dot have no extension. Output
    * `(idCol, path, ext, lang, lang_source)` with `lang_source` ∈
    * shebang | filename | ext | unknown and `lang` = "unknown" when
    * nothing matches. Narrow zero-shuffle pass. */
  def codeLangId(files: DataFrame, idCol: String = "file_id",
                 pathCol: String = "path",
                 textCol: String = "text"): DataFrame = {
    val fname = lower(element_at(split(col(pathCol), "/"), -1))
    // >=1 char before the dot: dotfiles like ".gitignore" have no ext
    val ext0 = regexp_extract(fname, "^.+\\.([a-z0-9_]+)$", 1)
    val ext = when(ext0 === "", lit(null: String)).otherwise(ext0)

    val firstLine = element_at(split(col(textCol), "\n", 2), 1)
    val toks = split(lower(trim(regexp_replace(firstLine, "^#!", ""))),
      "[ \t]+")
    val interp0 = element_at(split(element_at(toks, 1), "/"), -1)
    val interp = when(interp0 === "env",
      coalesce(try_element_at(toks, lit(2)), lit(""))).otherwise(interp0)
    // the first listed prefix that matches (regex alternation tries
    // its branches in order), then a literal map lookup like byName's
    val pfx = regexp_extract(interp, shebangLang.map(_._1).mkString("^(", "|", ")"), 1)
    val shebang = when(firstLine.startsWith("#!"),
      try_element_at(typedlit(shebangLang.toMap), pfx))

    val byName = try_element_at(typedlit(nameLang), fname)
    val byExt = try_element_at(typedlit(extLang), ext)
    files.select(col(idCol), col(pathCol).as("path"), ext.as("ext"),
      coalesce(shebang, byName, byExt, lit("unknown")).as("lang"),
      when(shebang.isNotNull, "shebang")
        .when(byName.isNotNull, "filename")
        .when(byExt.isNotNull, "ext").otherwise("unknown")
        .as("lang_source"))
  }

  /** License detection over a file head: an explicit
    * `SPDX-License-Identifier:` tag wins (verbatim id, first
    * occurrence); otherwise lowercase phrase fingerprints of the
    * ubiquitous license headers (Apache-2.0, MIT, BSD-3-Clause,
    * AGPL/LGPL before plain GPL so the specific families win,
    * MPL-2.0) over the first `headChars` characters. `category`
    * buckets the detected id by prefix: permissive (MIT / Apache /
    * BSD / ISC / Unlicense / Zlib / CC0 / 0BSD), copyleft (GPL /
    * AGPL / LGPL / MPL / EPL), none (nothing detected), other.
    * Output `(idCol, spdx, license, category)`; narrow, zero
    * shuffle. */
  def licenseScan(files: DataFrame, idCol: String = "file_id",
                  textCol: String = "text",
                  headChars: Int = 4000): DataFrame = {
    val spdx0 = regexp_extract(col(textCol),
      "SPDX-License-Identifier:[ \t]*([A-Za-z0-9.+-]+)", 1)
    val spdx = when(spdx0 === "", lit(null: String)).otherwise(spdx0)
    val head = lower(substring(col(textCol), 1, headChars))
    val phrase =
      when(head.contains("apache license, version 2.0"), "Apache-2.0")
        .when(head.contains("permission is hereby granted, free of charge"),
          "MIT")
        .when(head.contains(
          "redistribution and use in source and binary forms"),
          "BSD-3-Clause")
        .when(head.contains("gnu affero general public license"), "AGPL-3.0")
        .when(head.contains("gnu lesser general public license"), "LGPL-3.0")
        .when(head.contains("gnu general public license"), "GPL-3.0")
        .when(head.contains("mozilla public license"), "MPL-2.0")
    val license = coalesce(spdx, phrase)
    val lo = lower(license)
    val category = when(license.isNull, "none")
      .when(lo.startsWith("mit") || lo.startsWith("apache") ||
        lo.startsWith("bsd") || lo.startsWith("isc") ||
        lo.startsWith("unlicense") || lo.startsWith("zlib") ||
        lo.startsWith("cc0") || lo.startsWith("0bsd"), "permissive")
      .when(lo.startsWith("gpl") || lo.startsWith("agpl") ||
        lo.startsWith("lgpl") || lo.startsWith("mpl") ||
        lo.startsWith("epl"), "copyleft")
      .otherwise("other")
    files.select(col(idCol), spdx.as("spdx"), license.as("license"),
      category.as("category"))
  }

  /** Per-file code-quality statistics — the raw inputs of a
    * code-corpus quality gate, all exact integers: line count, total
    * and alphanumeric char counts (alnum via replace-diff), max line
    * length, lines longer than `longLine`, comment-prefixed lines
    * (line-comment prefix chosen by `langCol`: `#` family, `//`
    * family, `--` family; 0 when the language has no line-comment
    * mapping), and an autogeneration flag (lowercase 400-char head
    * contains "auto-generated" / "do not edit" / "generated by").
    * Narrow HOF pass over the split lines, zero shuffle. */
  def codeStats(files: DataFrame, idCol: String = "file_id",
                textCol: String = "text", langCol: String = "lang",
                longLine: Int = 120): DataFrame = {
    val lines = split(col(textCol), "\n", -1)
    val lang = col(langCol)
    val hashLangs = Seq("python", "shell", "yaml", "ruby", "perl", "r",
      "toml", "makefile", "dockerfile", "cmake", "elixir", "julia",
      "terraform")
    val slashLangs = Seq("c", "cpp", "java", "javascript", "typescript",
      "scala", "go", "rust", "kotlin", "swift", "csharp", "php", "dart",
      "protobuf")
    val dashLangs = Seq("sql", "lua", "haskell")
    val prefix = when(lang.isInCollection(hashLangs), "#")
      .when(lang.isInCollection(slashLangs), "//")
      .when(lang.isInCollection(dashLangs), "--")
    val nComment = when(prefix.isNull, lit(0L)).otherwise(
      size(filter(lines, l => ltrim(l).startsWith(prefix))).cast("long"))
    val head = lower(substring(col(textCol), 1, 400))
    files.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      length(col(textCol)).cast("long").as("n_chars"),
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), "[A-Za-z0-9]", "")))
        .cast("long").as("n_alnum"),
      coalesce(array_max(transform(lines, l => length(l))), lit(0))
        .cast("long").as("max_line_len"),
      size(filter(lines, l => length(l) > longLine)).cast("long")
        .as("n_long_lines"),
      nComment.as("n_comment_lines"),
      (head.contains("auto-generated") || head.contains("do not edit") ||
        head.contains("generated by")).as("is_autogen"))
  }

  private val nbSchema: StructType = DataType.fromDDL(
    "cells array<struct<cell_type: string, source: array<string>>>")
    .asInstanceOf[StructType]

  /** Jupyter-notebook cell extraction: parse the `.ipynb` JSON with a
    * fixed schema (`cells[].cell_type`, `cells[].source[]` — the
    * nbformat-4 shape), explode to one row per cell with its position
    * index, the source lines joined verbatim, and the line count.
    * Malformed JSON fails closed: `from_json` yields null and the
    * notebook contributes ZERO cell rows (a broken notebook is
    * dropped, never half-parsed). Output
    * `(idCol, cell_idx, cell_type, source, n_lines)`; narrow explode,
    * zero shuffle. */
  def notebookCells(files: DataFrame, idCol: String = "file_id",
                    jsonCol: String = "json"): DataFrame = {
    val cells = coalesce(from_json(col(jsonCol), nbSchema).getField("cells"),
      array().cast("array<struct<cell_type: string, source: array<string>>>"))
    files
      .select(col(idCol), posexplode(cells).as(Seq("cell_idx", "cell")))
      .select(col(idCol), col("cell_idx").cast("long").as("cell_idx"),
        col("cell.cell_type").as("cell_type"),
        array_join(col("cell.source"), "").as("source"),
        size(col("cell.source")).cast("long").as("n_lines"))
  }

  /** Fill-in-the-middle split (the PSM infilling transform for code
    * models): cut each document at two integer-percent pivots
    * (`loPct`/`hiPct` of the char length, floor arithmetic — RNG-free
    * by contract; callers wanting per-doc variation derive the
    * percents from a hash upstream and call per bucket), emit the
    * three segment lengths and the rendered
    * `<fim_prefix>P<fim_suffix>S<fim_middle>M` training string
    * (suffix BEFORE middle — the PSM order infilling models train
    * on). Reconstruction invariant: prefix+middle+suffix = text,
    * pinned by unit. Narrow substring arithmetic, zero shuffle. */
  def fimSplit(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", loPct: Int = 33,
               hiPct: Int = 66): DataFrame = {
    require(0 <= loPct && loPct <= hiPct && hiPct <= 100,
      s"need 0 <= loPct <= hiPct <= 100, got $loPct/$hiPct")
    val n = length(col(textCol))
    // widen to long BEFORE the multiply (a 2 GiB doc times 66 overflows
    // int32); the product stays < 2^38 so the division is exact
    val lo = floor(n.cast("long") * loPct / lit(100)).cast("int")
    val hi = floor(n.cast("long") * hiPct / lit(100)).cast("int")
    docs.select(col(idCol),
      lo.cast("long").as("n_prefix"),
      (hi - lo).cast("long").as("n_middle"),
      (n - hi).cast("long").as("n_suffix"),
      concat(lit("<fim_prefix>"), col(textCol).substr(lit(1), lo),
        lit("<fim_suffix>"), col(textCol).substr(hi + 1, n - hi),
        lit("<fim_middle>"), col(textCol).substr(lo + 1, hi - lo))
        .as("fim"))
  }

  /** Repository-level context packing (the repo-context training
    * format): group files by repository, order by path, and
    * concatenate `<file> path\ntext\n` blocks in path order until
    * the `maxChars` budget would be exceeded — files are taken
    * whole, and the FIRST file that would overflow stops the pack,
    * so kept files are always a deterministic path-order prefix.
    * Output `(repoCol, n_files, n_packed, n_chars, packed)`. ONE
    * shuffle keyed by repository — the natural unit of the output;
    * per-repo reduced state is the kept prefix only, bounded by
    * `maxChars` (repos larger than the budget truncate, they never
    * accumulate). */
  def repoPack(files: DataFrame, repoCol: String = "repo",
               pathCol: String = "path", textCol: String = "text",
               maxChars: Long = 1000000L): DataFrame = {
    require(maxChars > 0, s"maxChars must be positive, got $maxChars")
    val blocks = array_sort(collect_list(struct(col(pathCol).as("path"),
      concat(lit("<file> "), col(pathCol), lit("\n"), col(textCol),
        lit("\n")).as("block"))))
    val packed = aggregate(col("__blocks"),
      struct(lit("").as("acc"), lit(0L).as("used"), lit(0L).as("kept"),
        lit(false).as("full")),
      (st, b) => {
        val bl = length(b.getField("block")).cast("long")
        val fits = !st.getField("full") &&
          st.getField("used") + bl <= lit(maxChars)
        struct(
          when(fits, concat(st.getField("acc"), b.getField("block")))
            .otherwise(st.getField("acc")).as("acc"),
          when(fits, st.getField("used") + bl)
            .otherwise(st.getField("used")).as("used"),
          when(fits, st.getField("kept") + 1L)
            .otherwise(st.getField("kept")).as("kept"),
          (!fits).as("full"))
      })
    files.groupBy(col(repoCol))
      .agg(blocks.as("__blocks"), count(lit(1)).as("n_files"))
      .select(col(repoCol), col("n_files"),
        packed.getField("kept").as("n_packed"),
        packed.getField("used").as("n_chars"),
        packed.getField("acc").as("packed"))
  }

  /** Unified-diff statistics (commit-data ingestion): per diff text,
    * the number of `diff --git` file headers, hunks (`@@` lines),
    * added lines (`+` but not the `+++` file header), and deleted
    * lines (`-` but not `---`). Exact line-prefix counts over one
    * split; narrow, zero shuffle. */
  def diffStats(diffs: DataFrame, idCol: String = "diff_id",
                textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n", -1)
    def cnt(p: Column => Column): Column =
      size(filter(lines, p)).cast("long")
    diffs.select(col(idCol),
      cnt(l => l.startsWith("diff --git ")).as("n_files"),
      cnt(l => l.startsWith("@@")).as("n_hunks"),
      cnt(l => l.startsWith("+") && !l.startsWith("+++")).as("n_added"),
      cnt(l => l.startsWith("-") && !l.startsWith("---")).as("n_deleted"))
  }
}
