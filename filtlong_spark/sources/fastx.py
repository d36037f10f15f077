"""FASTQ/FASTA source (SURVEY.md §2 A1-A3) — the literal input format of
the reference (vendored kseq parser, src/kseq.h, driven at
src/main.cpp:70-125).

Files are the unit of parallelism (gzip members aren't splittable): the
driver globs paths, Spark distributes one file per task, and an Arrow pass
parses records. Schema:

    reads(file string, rec_idx long, name string, comment string,
          seq string, qual string, fmt string)   -- fmt in {fasta, fastq}

Malformed records raise with the reference's message ("Error: incorrect
FASTQ format for read <name>", src/main.cpp:79-81).
"""

from __future__ import annotations

import glob
import gzip
import io

from pyspark.sql import DataFrame, SparkSession

READS_SCHEMA = ("file string, rec_idx long, name string, comment string, "
                "seq string, qual string, fmt string")


def parse_fastx(stream: io.TextIOBase, filename: str = "<stream>"):
    """kseq-equivalent record parser: '>' FASTA records (multi-line seq),
    '@' FASTQ records (seq lines until '+', qual lines until len(qual) ==
    len(seq)). Yields dict records."""
    rec_idx = 0
    line = stream.readline()
    while line:
        line = line.rstrip("\n").rstrip("\r")
        if not line:
            line = stream.readline()
            continue
        if line.startswith(">"):
            header = line[1:]
            name, _, comment = header.partition(" ")
            seq_parts = []
            line = stream.readline()
            while line and not line.startswith((">", "@")):
                seq_parts.append(line.strip())
                line = stream.readline()
            yield {"file": filename, "rec_idx": rec_idx, "name": name,
                   "comment": comment, "seq": "".join(seq_parts),
                   "qual": "", "fmt": "fasta"}
            rec_idx += 1
        elif line.startswith("@"):
            header = line[1:]
            name, _, comment = header.partition(" ")
            seq_parts = []
            line = stream.readline()
            while line and not line.startswith("+"):
                seq_parts.append(line.strip())
                line = stream.readline()
            seq = "".join(seq_parts)
            if not line:
                raise ValueError(
                    f"Error: incorrect FASTQ format for read {name}")
            qual_parts: list[str] = []
            qlen = 0
            while qlen < len(seq):
                line = stream.readline()
                if not line:
                    raise ValueError(
                        f"Error: incorrect FASTQ format for read {name}")
                part = line.strip()
                qual_parts.append(part)
                qlen += len(part)
            if qlen != len(seq):
                raise ValueError(
                    f"Error: incorrect FASTQ format for read {name}")
            yield {"file": filename, "rec_idx": rec_idx, "name": name,
                   "comment": comment, "seq": seq,
                   "qual": "".join(qual_parts), "fmt": "fastq"}
            rec_idx += 1
            line = stream.readline()
        else:
            raise ValueError(
                f"Error: could not parse input reads in {filename}")


def open_fastx(path: str) -> io.TextIOBase:
    if path.endswith(".gz"):
        return io.TextIOWrapper(gzip.open(path, "rb"), encoding="ascii")
    return open(path, "rt", encoding="ascii")


def read_fastx(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Distributed scan: one task per file (gzip-safe), Arrow-batched
    record assembly."""
    import pandas as pd

    from ..functions.scoring import _register_self_contained_pickling
    _register_self_contained_pickling()

    if isinstance(paths, str):
        paths = [paths]
    files = []
    for p in paths:
        matched = sorted(glob.glob(p))
        if not matched:
            # D2 file-existence validation, exact reference message
            # (src/arguments.cpp:310-322; test/test_error_messages.py:68-88)
            raise FileNotFoundError(f"Error: cannot find file: {p}")
        files.extend(matched)

    files_df = spark.createDataFrame([(f,) for f in files], "path string") \
        .repartition(len(files))

    def mapper(batches):
        for pdf in batches:
            recs = []
            for path in pdf["path"]:
                with open_fastx(path) as fh:
                    recs.extend(parse_fastx(fh, path))
            yield pd.DataFrame(recs, columns=["file", "rec_idx", "name",
                                              "comment", "seq", "qual",
                                              "fmt"])

    return files_df.mapInPandas(mapper, schema=READS_SCHEMA)


def format_record(name: str, comment: str, seq: str, qual: str | None,
                  as_fasta: bool) -> str:
    """A7 output formatting (src/main.cpp:272-309): header + seq (+ qual),
    comment preserved."""
    header = name + ((" " + comment) if comment else "")
    if as_fasta:
        return f">{header}\n{seq}\n"
    return f"@{header}\n{seq}\n+\n{qual}\n"
