"""CLI entry point mirroring the reference binaries' interface:

    python -m wordcount_spark file1.txt [file2.txt ...]
    python -m wordcount_spark --mode stale --out out.txt raw_text_input/*

Same surface as ``./omp <files...>`` (reference ``omp.cpp:152``): all input
files aggregate into one global count; stdout gets the ``Filename:``
header (argv[1], misleading-by-design parity — ``omp.cpp:220``) and sorted
``[i] word: count`` lines; stage timings go to stderr (``omp.cpp:227-230``).
``--out`` switches to the hybrid-style file sink, which adds the
``Unique words found: N`` line (``hybrid.cpp:445-454``). ``--per-file``
gives the stale sequential binary's per-file grouping (SURVEY.md §0.3),
one block per source file.

Both sinks run one plan (``sinks.reference_lines``): one corpus scan feeds
the counts, the rank and the header figures. Spark runs it only when the
sink pulls, so the stderr ``Count stage`` covers session start and plan
build, and ``Sort & output stage`` the whole job.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(prog="wordcount_spark")
    ap.add_argument("files", nargs="+", help="input text files (UNION ALL)")
    ap.add_argument(
        "--mode",
        choices=["head", "stale"],
        default="head",
        help="normalizer semantics: HEAD sources vs committed stale binaries "
        "(SURVEY.md §0.6)",
    )
    ap.add_argument("--out", default=None, help="write hybrid-style file instead of stdout")
    ap.add_argument(
        "--per-file", action="store_true", help="group counts per source file"
    )
    ap.add_argument(
        "--preserve-bom",
        action="store_true",
        help="count a UTF-8 BOM as word bytes (golden-fidelity path)",
    )
    args = ap.parse_args(argv)

    t0 = time.monotonic()
    own_session = spark is None
    if own_session:
        from wordcount_spark.session import get_spark

        spark = get_spark("wordcount_spark_cli")

    from wordcount_spark.operators.wordcount import count_words
    from wordcount_spark.sources.readers import load_text_corpus
    from wordcount_spark.sources.sinks import reference_lines, write_reference_output

    corpus = load_text_corpus(spark, args.files, preserve_bom=args.preserve_bom)
    keys = ["source", "word"] if args.per_file else ["word"]
    counts = count_words(corpus, mode=args.mode, group_cols=keys[:-1])
    lines = reference_lines(counts, args.files[0], keys, unique_line=bool(args.out))
    t_count = time.monotonic()

    if args.out:
        write_reference_output(lines, args.out)
    else:
        for row in lines.toLocalIterator():
            print(row.value)
    t_done = time.monotonic()
    print(
        f"Count stage: {(t_count - t0) * 1000:.1f} ms\n"
        f"Sort & output stage: {(t_done - t_count) * 1000:.1f} ms",
        file=sys.stderr,
    )
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
