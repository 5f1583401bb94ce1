"""Seeded input generators and the expected-report oracle.

Two kinds of input, both a pure function of the seed:

* a SNAP-style citation edge list (``snap_edges``) for the
  ``citation_report`` workload, plus the report the flagship pipeline must
  write for it (``expected_report``), computed single-process in Python;
* the ``lineitem`` parquet table the engine's graph queries read as their
  citation edge list, ``l_orderkey -> l_partkey``, with the
  key ranges of the repository's test data (TESTDATA.md).

Run as a script to write either input into a directory:

    python3 perfbench/gen.py snap <seed> <out-dir>
    python3 perfbench/gen.py lineitem <data-seed> <scale> <out-dir>
"""
import collections
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SNAP_LINES = 2_000_000
# The most-cited paper draws about 1.35% of the edges, as in cit-HepTh.
SNAP_PAPERS = 40_000
SNAP_ZIPF_S = 0.75
SNAP_ZIPF_OFFSET = 1.6
SNAP_JUNK_SHARE = 0.005
REPORT_TIMESTAMP = "2000-01-01 00:00:00"


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def snap_edges(seed, lines=SNAP_LINES):
    """The edge-list file as bytes.

    Paper ids are variable-length decimal strings (SNAP drops leading
    zeros), so lexicographic and numeric order differ, and the report's
    tie-break on the id string is exercised. Cited papers follow a Zipf-like
    law; citing papers are uniform. About 0.5% of the lines are blank,
    comments or malformed, which the reader must skip.
    """
    rng = _rng(seed, 1)
    ids = rng.choice(np.arange(1_000, 10_000_000), SNAP_PAPERS, replace=False)
    ids = ids.astype(str)
    weights = 1.0 / (np.arange(SNAP_PAPERS) + SNAP_ZIPF_OFFSET) ** SNAP_ZIPF_S
    dst = rng.choice(SNAP_PAPERS, lines, p=weights / weights.sum())
    src = rng.integers(0, SNAP_PAPERS, lines)
    out = [a + "\t" + b for a, b in zip(ids[src].tolist(), ids[dst].tolist())]
    junk = np.flatnonzero(rng.random(lines) < SNAP_JUNK_SHARE)
    kinds = rng.integers(0, 5, junk.size)
    for at, kind in zip(junk.tolist(), kinds.tolist()):
        a, b = out[at].split("\t")
        out[at] = ("", "   ", "# comment " + a, a, a + "\t" + b + "\t1")[kind]
    header = ["# Directed graph (each unordered pair of nodes is saved once)",
              "# FromNodeId\tToNodeId"]
    return ("\n".join(header + out) + "\n").encode()


def expected_report(data, generated_on=REPORT_TIMESTAMP):
    """The report the pipeline must write for edge-list bytes ``data``.

    Parsing follows the reference's ingest: skip lines starting with '#'
    and lines that are blank after trimming spaces; keep lines of exactly
    two tab-separated fields; count citations per cited id. Ranking is by
    descending count, ties by id ascending as a string; the top 30 are laid
    out as the reference's report with the timestamp pinned.
    """
    fields = (line.strip(" ").split("\t") for line in data.decode().split("\n")
              if not line.startswith("#"))
    counts = collections.Counter(f[1] for f in fields if len(f) == 2)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    rows = ["%-6s%-15s%10s" % ("Rank", "Paper ID", "Citations"), "-" * 31]
    rows += ["%-6s%-15s%10s" % (i, pid, f"{n:,}")
             for i, (pid, n) in enumerate(top, 1)]
    return ("=" * 50 + "\nTop 30 Most Cited Papers\n" + "=" * 50 + "\n\n"
            + "\n".join(rows) + "\n\n" + "-" * 31
            + f"\nGenerated on: {generated_on}\n")


def lineitem(seed, scale):
    """The ``lineitem`` table at ``scale`` (1.0 = 6M rows), holding only the
    two key columns the graph queries read as the citation edge list
    ``l_orderkey -> l_partkey``, uniform over the test data's key ranges."""
    rng = _rng(seed, 2)
    n_line, n_ord, n_part = int(6_000_000 * scale), int(1_500_000 * scale), int(200_000 * scale)
    return pa.table({"l_orderkey": rng.integers(0, n_ord, n_line),
                     "l_partkey": rng.integers(0, n_part, n_line)})


def write_lineitem(seed, scale, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(lineitem(seed, scale), os.path.join(out_dir, "lineitem.parquet"))


def write_snap(seed, out_dir):
    """edges.txt and the report expected for it."""
    os.makedirs(out_dir, exist_ok=True)
    data = snap_edges(seed)
    with open(os.path.join(out_dir, "edges.txt"), "wb") as f:
        f.write(data)
    with open(os.path.join(out_dir, "expected_report.txt"), "w") as f:
        f.write(expected_report(data))


def main(argv):
    if argv[:1] == ["snap"] and len(argv) == 3:
        write_snap(int(argv[1]), argv[2])
    elif argv[:1] == ["lineitem"] and len(argv) == 4:
        write_lineitem(int(argv[1]), float(argv[2]), argv[3])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
