"""Output checks, made after the timed window of every run.

- mr_wordcount: both TSV outputs must equal, byte for byte, the counts
  and posting lists this module computes itself from the generated
  corpus. The warmup pass and every timed pass are held to it through
  the SHA-256 the driver takes of each pass's files; the last pass's
  files are compared whole.
- query_mix: each line's warmup-pass result must equal,
  ignoring row order, what DuckDB returns for the line's
  SparkEntry.oracleSql over the same fixture.

A failed check fails every timed sample of that op; failures are kept
by op name, never dropped from the mix.
"""
import collections
import hashlib
import os
import re

TOKEN_SPLIT = re.compile(r"[^A-Za-z0-9]+")


def expected_mr(files):
    """(wordcount TSV bytes, inverted-index TSV bytes, token count).

    The corpus is ASCII, so graft's split on runs of non-letter,
    non-digit characters is the same as splitting on [^A-Za-z0-9]+.
    Posting lists name files as Spark's input_file_name() does."""
    counts = collections.Counter()
    postings = collections.defaultdict(set)
    for path in files:
        uri = "file://" + os.path.abspath(path)
        with open(path, encoding="ascii") as fh:
            toks = [t.lower() for t in TOKEN_SPLIT.split(fh.read()) if t]
        counts.update(toks)
        for t in set(toks):
            postings[t].add(uri)
    keys = sorted(counts)
    wc = "".join(f"{k}\t{counts[k]}\n" for k in keys).encode()
    index = "".join(f"{k}\t{','.join(sorted(postings[k]))}\n" for k in keys).encode()
    return wc, index, sum(counts.values())


def _read(paths):
    out = bytearray()
    for p in paths:
        with open(p, "rb") as fh:
            out += fh.read()
    return bytes(out)


def _errors(rec):
    """Ops that raised anywhere in the run, by name."""
    fails = {}
    for phase in ("warmup", "samples"):
        for s in rec[phase]:
            if s["error"] is not None:
                fails.setdefault(s["op"], f"{phase}: {s['error']}")
    return fails


def _verdict(rec, failures, wrong):
    """`wrong(sample)` says whether a timed sample's output was wrong."""
    samples = rec["samples"]
    failed = sum(1 for s in samples if s["error"] is not None or wrong(s))
    return {"correct": not failures and failed == 0,
            "attempted": len(samples), "failed": failed,
            "failures": failures}


def check_mr(rec, files):
    wc, index, tokens = expected_mr(files)
    extra = rec["extra"]
    want = {"wordcount": hashlib.sha256(wc).hexdigest(),
            "inverted_index": hashlib.sha256(index).hexdigest()}
    failures = _errors(rec)
    bad = set()
    for d in extra["digests"]:
        for op, key in (("wordcount", "wordcount"), ("inverted_index", "index")):
            if d[key] != want[op]:
                bad.add((op, d["pass"]))
                failures.setdefault(op, f"pass {d['pass']} output differs from expected")
    if _read(extra["wordcount_files"]) != wc:
        failures.setdefault("wordcount", "last output differs from expected bytes")
    if _read(extra["index_files"]) != index:
        failures.setdefault("inverted_index", "last output differs from expected bytes")
    verdict = _verdict(rec, failures, lambda s: (s["op"], s["pass"]) in bad)
    keys = wc.count(b"\n")
    verdict["corpus"] = {"bytes": sum(os.path.getsize(f) for f in files),
                         "files": len(files), "tokens": tokens,
                         "distinct_keys": keys, "tokens_per_key": tokens / keys}
    return verdict


def _nested(df):
    return [c for c in df.columns
            if df[c].map(lambda v: isinstance(v, (list, tuple, dict))
                         or hasattr(v, "tolist")).any()]


def compare(spark_df, oracle_df):
    """None when equal ignoring row order, else what differs. Columns
    are matched by name; values are compared as strings after sorting
    both frames by every column."""
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        return f"columns differ: spark={sc} oracle={oc}"
    if len(spark_df) != len(oracle_df):
        return f"row count: spark={len(spark_df)} oracle={len(oracle_df)}"
    nested = sorted(set(_nested(spark_df)) | set(_nested(oracle_df)))
    if nested:
        return f"nested columns cannot be compared: {nested}"
    s = spark_df[sc].sort_values(by=sc, ignore_index=True)
    o = oracle_df[oc].sort_values(by=oc, ignore_index=True)
    for c in sc:
        neq = s[c].astype(str) != o[c].astype(str)
        if neq.any():
            i = int(neq.idxmax())
            return (f"column {c}: {int(neq.sum())} mismatches, first at row {i}: "
                    f"spark={s[c].iloc[i]!r} oracle={o[c].iloc[i]!r}")
    return None


def check_lines(rec, data, tmp):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}/duckdb'")
    con.execute("SET threads=2")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    failures = _errors(rec)
    oracle = rec["extra"]["oracle_sql"]
    for s in rec["warmup"]:
        name = s["op"]
        if s["error"] is not None:
            continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM '{tmp}/check/{name}/*.parquet'").df()
            diff = compare(spark_df, con.execute(oracle[name]).df())
        except Exception as e:  # an oracle that cannot run is a failure too
            diff = f"check could not run: {e}"
        if diff:
            failures.setdefault(name, diff)
    return _verdict(rec, failures, lambda s: s["op"] in failures)
