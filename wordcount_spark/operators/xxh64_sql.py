"""XXH64 (seed 42 — Spark's ``xxhash64``) as generated DuckDB SQL.

Emits a pipeline of NESTED SUBQUERIES computing, for a VARCHAR column,
the exact signed 64-bit value Spark's ``F.xxhash64`` returns — the full
algorithm including the 32-byte stripe loop (``list_reduce`` over stripe
structs), the 8-byte/4-byte/byte tails, and the avalanche. Validated
byte-for-byte against Spark in tests/test_xxh64_sql.py (empty / short /
word-boundary / ≥32-byte / multi-byte-UTF-8 inputs).

Why: the MinHash path (``operators/dedup.py``) hashes tokens with
xxhash64, which DuckDB lacks — this module gives every MinHash+LSH query
(``queries_dedup._minhash_sql``) a real differential oracle instead of a
rows-only check. The generated
SQL is large (tens of KB) but runs only over the DISTINCT token
vocabulary, never the corpus.

All arithmetic is HUGEINT mod 2^64: 64×64-bit multiplication goes
through 32-bit limbs (the full 128-bit product would overflow SIGNED
HUGEINT), rotations are split-shift adds, and ``xor`` is DuckDB's
builtin (operands stay < 2^64, so sign bits never engage).

Structure: each stage is its own projection layer (``SELECT *, <expr> AS
<col> FROM (...)``). Lateral column aliases are deliberately NOT used —
DuckDB binds them by textual substitution, so a chain of stages whose
limb expansion duplicates its operand 4× blows up as 4^depth (the first
cut hung the planner). Projection boundaries evaluate each stage once.
Inside one layer an expression may reference the PREVIOUS layer's
columns any number of times — that is shallow, bounded work.
"""

from __future__ import annotations

P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
SEED = 42
M64 = 1 << 64
B32 = 1 << 32


def _mul64(a: str, b: str) -> str:
    """(a*b) mod 2^64 via 32-bit limbs (operands HUGEINT < 2^64). Both
    operands are duplicated textually — pass column/lambda-variable
    names or short compounds only."""
    return (
        f"((({a})%{B32})*(({b})%{B32})"
        f" + (((({a})//{B32})*(({b})%{B32})"
        f" + (({a})%{B32})*(({b})//{B32})) % {B32}) * {B32}) % {M64}"
    )


def _rotl(x: str, r: int) -> str:
    lo = 1 << (64 - r)
    return f"((({x}) % {lo}) * {1 << r} + ({x}) // {lo})"


def _rnd(acc: str, inp: str) -> str:
    """round(acc, inp) = rotl31(acc + inp*PRIME2)*PRIME1."""
    s = f"((({acc}) + {_mul64(inp, str(P2))}) % {M64})"
    return f"({_mul64(_rotl(s, 31), str(P1))})"


def _rnd0(inp: str) -> str:
    """round(0, inp) = rotl31(inp*PRIME2)*PRIME1."""
    return f"({_mul64(_rotl(_mul64(inp, str(P2)), 31), str(P1))})"


def _hex4(hx: str, off: str, k0: int) -> str:
    """4-byte little-endian chunk at byte offset off+k0, parsed through
    BIGINT ('0x…'::HUGEINT is not supported; 8 hex chars always fit
    BIGINT)."""
    parts = " || ".join(
        f"substr({hx}, (2*(({off})+{k0 + k})+1)::BIGINT, 2)"
        for k in range(3, -1, -1)
    )
    return f"('0x' || {parts})::BIGINT::HUGEINT"


def _w8(hx: str, off: str) -> str:
    """8-byte little-endian word at byte offset ``off`` (0-based) of the
    hex-encoded payload ``hx``, as HUGEINT (two 4-byte halves)."""
    return f"({_hex4(hx, off, 4)} * {B32} + {_hex4(hx, off, 0)})"


def _w4(hx: str, off: str) -> str:
    return _hex4(hx, off, 0)


def _byte(hx: str, off: str) -> str:
    return f"('0x' || substr({hx}, (2*({off})+1)::BIGINT, 2))::BIGINT::HUGEINT"


def xxh64_pipeline_sql(
    source_sql: str, tok: str = "tok", keep: tuple[str, ...] = ()
) -> str:
    """A SELECT over ``source_sql`` (a relation exposing VARCHAR column
    ``tok``) that adds ``h64`` (signed BIGINT ≡ Spark ``xxhash64(tok)``)
    and ``th`` (the repo's fold of h64 to [0, 2^31-1)). ``tok`` may be a
    column name or an expression; ``keep`` lists additional source
    columns to carry through the pipeline (an expression ``tok`` must
    name its inputs in ``keep`` — the base projection drops everything
    else)."""
    acc0 = (
        f"{{'a': {(SEED + P1 + P2) % M64}::HUGEINT, "
        f"'b': {(SEED + P2) % M64}::HUGEINT, "
        f"'c': {SEED}::HUGEINT, "
        f"'d': {(SEED - P1) % M64}::HUGEINT}}"
    )
    stripe_struct = (
        f"{{'a': {_w8('hx', '32*si')}, 'b': {_w8('hx', '32*si+8')}, "
        f"'c': {_w8('hx', '32*si+16')}, 'd': {_w8('hx', '32*si+24')}}}"
    )
    sx = {v: f"struct_extract(s, '{v}')" for v in "abcd"}
    px = {v: f"struct_extract(p, '{v}')" for v in "abcd"}
    stripe_lambda = "(p, s) -> {" + ", ".join(
        f"'{v}': {_rnd(px[v], sx[v])}" for v in "abcd"
    ) + "}"
    ax = {v: f"struct_extract(acc, '{v}')" for v in "abcd"}
    w8_step = (
        f"(h, w) -> ({_mul64(_rotl(f'xor(h, {_rnd0(chr(119))})', 27), str(P1))}"
        f" + {P4}) % {M64}"
    )
    byte_step = (
        f"(h, b) -> "
        f"{_mul64(_rotl(f'xor(h, {_mul64(chr(98), str(P5))})', 11), str(P1))}"
    )

    # each entry = one projection layer: list of (col, expr-over-previous-layer)
    layers: list[list[tuple[str, str]]] = [
        [
            ("hx", f"hex(encode({tok}))"),
            ("n", f"octet_length(encode({tok}))::HUGEINT"),
        ],
        [
            (
                "acc",
                "list_reduce(list_prepend("
                + acc0
                + ", list_transform(range((n // 32)::BIGINT), si -> "
                + stripe_struct
                + ")), "
                + stripe_lambda
                + ")",
            )
        ],
        [
            (
                "m0",
                f"({_rotl(ax['a'], 1)} + {_rotl(ax['b'], 7)} + "
                f"{_rotl(ax['c'], 12)} + {_rotl(ax['d'], 18)}) % {M64}",
            ),
            ("r_a", _rnd0(ax["a"])),
            ("r_b", _rnd0(ax["b"])),
            ("r_c", _rnd0(ax["c"])),
            ("r_d", _rnd0(ax["d"])),
        ],
        [("m1", f"({_mul64('xor(m0, r_a)', str(P1))} + {P4}) % {M64}")],
        [("m2", f"({_mul64('xor(m1, r_b)', str(P1))} + {P4}) % {M64}")],
        [("m3", f"({_mul64('xor(m2, r_c)', str(P1))} + {P4}) % {M64}")],
        [("m4", f"({_mul64('xor(m3, r_d)', str(P1))} + {P4}) % {M64}")],
        [
            (
                "h1",
                f"(CASE WHEN n >= 32 THEN m4 "
                f"ELSE {(SEED + P5) % M64}::HUGEINT END + n) % {M64}",
            )
        ],
        [
            (
                "h2",
                "list_reduce(list_prepend(h1, "
                "list_transform(range(((n % 32) // 8)::BIGINT), k -> "
                + _w8("hx", "(n // 32)*32 + 8*k")
                + ")), "
                + w8_step
                + ")",
            )
        ],
        [
            (
                "w4p",
                f"CASE WHEN n % 8 >= 4 THEN "
                f"{_mul64(_w4('hx', 'n - (n % 8)'), str(P1))} "
                f"ELSE 0::HUGEINT END",
            )
        ],
        [("x4", "xor(h2, w4p)")],
        [
            (
                "h3",
                f"CASE WHEN n % 8 >= 4 THEN "
                f"({_mul64(_rotl('x4', 23), str(P2))} + {P3}) % {M64} "
                f"ELSE h2 END",
            )
        ],
        [
            (
                "h4",
                "list_reduce(list_prepend(h3, "
                "list_transform(range((n % 4)::BIGINT), k -> "
                + _byte("hx", "n - (n % 4) + k")
                + ")), "
                + byte_step
                + ")",
            )
        ],
        [("a1", f"xor(h4, h4 // {1 << 33})")],
        [("a2", _mul64("a1", str(P2)))],
        [("a3", f"xor(a2, a2 // {1 << 29})")],
        [("a4", _mul64("a3", str(P3)))],
        [("a5", f"xor(a4, a4 // {1 << 32})")],
        [("h64", f"CASE WHEN a5 >= {1 << 63} THEN a5 - {M64} ELSE a5 END")],
        [
            (
                "th",
                "CAST(((h64 % 2147483647) + 2147483647) % 2147483647 "
                "AS BIGINT)",
            )
        ],
    ]
    base_cols = ", ".join((*keep, tok)) if keep else tok
    sql = f"SELECT {base_cols} FROM ({source_sql})"
    for layer in layers:
        cols = ", ".join(f"{expr} AS {col}" for col, expr in layer)
        sql = f"SELECT *, {cols} FROM ({sql})"
    return sql
