"""S2 — raw redo-log file source (parity mode for reference artifacts).

The reference reads the whole file into memory and pairs non-blank lines
(FileReader.scala:17-22, FileParser.scala:19-24). Line pairing needs
file-global context, so a naive spark.read.text cannot reconstruct
chunks across partition boundaries. Here each FILE is one unit: read
with `wholetext`, then one vectorized explode turns each file into
documents-shaped rows (url = file#<seq>, text = the 2-line record).
Redo logs are many-files-small (per-instance spool output), so per-file
parallelism is the natural partitioning; a single giant file would be
the degenerate case and is not the production path (the production
input is the documents table, SURVEY.md §2.1 S1).

The pairing itself is pure built-in expressions (filter + windowless
array ops) — no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.javaspace import not_blank_line

# scala.io.Source.getLines / BufferedReader.readLine line terminators:
# \r\n (one terminator — listed first), lone \r, lone \n. NOT \x85 or
# U+2028/U+2029 (those are Java-regex-`.` terminators only; a \x85 in a
# value reaches the statement patterns and is a reference crash shape —
# functions/parse.py). Used by both the file reader and the packed-cell
# exploder so a record handed to the parse kernels is always
# \n-delimited.
_LINE_TERM = r"\r\n|\r|\n"


def _paired_chunks(text) -> "F.Column":
    """array<struct<seq,seqstr,text>> of 2-line records from one raw
    text blob, with the reference's exact chunking semantics
    (FileParser.scala:22):

      * line split = scala.io.Source.getLines terminators (_LINE_TERM —
        \\r\\n first so the pair is ONE terminator; a lone-\\r
        classic-Mac log is many lines, probed vs the binary — fuzz
        axis `crlf`);
      * blank-line drop = String.isBlank (Character.isWhitespace set —
        a 　-only line is blank, an NBSP-only line is NOT; javaspace);
      * remaining lines paired in order. An odd trailing line yields a
        ONE-line record: the reference crashes there (chunk(1) index
        error) and this repo's policy turns reference crashes into
        observable rejects, so get() leaves the missing second line
        NULL and concat_ws drops it.

    seqstr is the chunk seq zero-padded to the blob's OWN max-seq width
    (>=4 digits): within a blob every suffix has one width, so
    lexicographic suffix order == record order at any record count.

    SCALE GUARD — the filtered line array is LET-BOUND once per row via
    the single-element-array + lambda-variable idiom (array(lines) →
    transform(..., ls -> ...)). Optimizer rules substitute projected
    aliases into downstream consumers unconditionally (PushDownPredicate
    — PLANS §10), and interpreted lambdas have no CSE: with a plain
    column reference, every get(lines, i) of the pairing transform
    re-evaluates the whole split+isBlank tree, turning an L-line file
    into O(L²) regex evals — measured as a 22-minute single task on a
    reference artifact (round 5 session 4). Bound, any substitution
    costs at most one extra O(L) array build per consumer."""
    lines = F.filter(F.split(text, _LINE_TERM), not_blank_line)

    def pair(ls):
        width = F.greatest(
            F.lit(4),
            F.length(
                (F.ceil(F.size(ls) / 2).cast("int") - F.lit(1)).cast("string")
            ),
        )
        return F.filter(
            F.transform(
                ls,
                lambda ln, i: F.when(
                    i % 2 == 0,
                    F.struct(
                        (i / 2).cast("int").alias("seq"),
                        F.lpad(
                            (i / 2).cast("int").cast("string"), width, "0"
                        ).alias("seqstr"),
                        F.concat_ws("\n", ln, F.get(ls, i + 1)).alias("text"),
                    ),
                ),
            ),
            lambda s: s.isNotNull(),
        )

    return F.flatten(F.transform(F.array(lines), pair))


def read_log_files(spark: SparkSession, path: str) -> DataFrame:
    """Return a documents-shaped frame (url, text) from raw redo-log
    text files: blank lines dropped, remaining lines paired in order
    (FileParser.scala:22 — see _paired_chunks). warc_ts/lang are absent
    — the parse kernel extracts ts from the record itself; `url`
    encodes (file, seq) and is zero-padded so (ts, url) ordering
    matches file order."""
    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value")
    )
    return files.select(
        "file", F.explode(_paired_chunks(F.col("value"))).alias("c")
    ).select(
        F.concat_ws(
            "#", F.col("file"), F.format_string("%010d", F.col("c.seq"))
        ).alias("url"),
        F.col("c.text").alias("text"),
    )


def explode_log_records(docs: DataFrame) -> DataFrame:
    """Multi-statement documents → one row per 2-line record, with the
    reference's exact pairing semantics (blank lines dropped, remaining
    lines grouped in pairs — FileParser.scala:22), as pure expressions.

    For a documents table whose text cells batch several redo records,
    run this BEFORE parse_documents / parse_documents_sql. Every other
    column is carried unchanged (an exploded record inherits its doc's
    warc_ts; the parse extracts the per-record ts from the chunk).
    `url` gains a zero-padded '#kkkk' position suffix so
    (warc_ts, url) ordering inside a doc equals record order; the pad
    is 4 digits minimum and widens with the doc's own record count
    (a cell packing >=10,000 records pads to its max seq's width, so
    the suffixes stay lexicographically ordered at ANY size — a fixed
    %04d would sort '10000' before '9999'). An odd
    trailing line yields a one-line record the parse kernel flags
    (missing id line) — the reference CRASHES there (chunk(1) index
    error); this repo's policy turns reference crashes into observable
    rejects. All-blank or empty text cells yield no rows (filterNot
    semantics).

    ORDERING CONTRACT: downstream incarnation/discovery order is
    (parsed ts, url). Exploding preserves statement order exactly when
    doc urls sort in packing order within every equal-ts tie (e.g. one
    zero-padded sequence space, as tests/fuzzgen.records_to_packed_
    documents builds). Packing that straddles an equal-ts tie whose
    urls come from DIFFERENT lexicographic ranges (multi-host bursts)
    re-breaks that tie by the packed doc's base url — same multiset of
    events, possibly different incarnation split within the tie. That
    is inherent to any url-rewriting step, not specific to this one."""
    other = [c for c in docs.columns if c != "text"]
    # chunking semantics + the O(L²)-substitution scale guard live in
    # _paired_chunks (the lines array is let-bound per row there)
    ex = docs.select(
        *other, F.explode(_paired_chunks(F.col("text"))).alias("__c")
    )
    out_cols = []
    for c in docs.columns:
        if c == "text":
            out_cols.append(F.col("__c.text").alias("text"))
        elif c == "url":
            out_cols.append(
                F.concat_ws("#", F.col("url"), F.col("__c.seqstr")).alias("url")
            )
        else:
            out_cols.append(F.col(c))
    return ex.select(*out_cols)
