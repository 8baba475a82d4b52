"""Deterministic cross-engine math beyond +-*/, and the SQL fragments
several operator modules share: each is one string valid in both
Spark SQL and DuckDB, or a Spark/DuckDB pair, that both engines
evaluate to identical values.

libm transcendentals (ln, exp, pow) are NOT correctly rounded and
differ in the last ulp between DuckDB's C libm and the JVM — a direct
`ln()` in an oracle-checked expression is a hash-mismatch time bomb
(the same reason lsh_param_sweep's s-curve threshold uses a nested-sqrt
chain instead of pow()).

`ln_det` is a natural-log APPROXIMATION built only from operations
IEEE 754 requires to be correctly rounded (sqrt, *, -), so both
engines compute bit-identical doubles:

    ln(x) = lim n->inf  2^n * (x^(1/2^n) - 1)

with n = 20 (twenty nested sqrts). Error decomposes as
ln(x)^2 / 2^(n+1) from the series truncation plus 2^(n-53) from the
quantization of x^(1/2^n)-1 near 1.0 — about 5e-5 absolute for
|ln x| <= 10, plenty for importance weights, entropies, and rankings
(document the approximation where used; never use it where the exact
transcendental value matters).

`fold_expr`/`fold_sql` sum a per-row double over a group in sorted
order, so the float additions run in one fixed order whatever the
partitioning. The fixed-point alternative is `NANO_GRID_EXPR`: snap
each double to a 1e-9 BIGINT grid, sum integers, divide by `NANO`
once at output.
"""

from __future__ import annotations

_N_SQRT = 20
_SCALE = float(1 << _N_SQRT)


def ln_det(x: str) -> str:
    """ln(x) approximation from correctly-rounded ops only; the SAME
    string is valid Spark SQL and DuckDB SQL, so both engines run the
    identical float-op sequence -> bit-identical result."""
    e = f"CAST({x} AS DOUBLE)"
    for _ in range(_N_SQRT):
        e = f"sqrt({e})"
    return f"({_SCALE} * ({e} - 1.0))"


def fold_expr(t: str) -> str:
    """Spark: order-independent double sum of the term `t` over a group."""
    return (f"aggregate(sort_array(collect_list({t})), "
            f"CAST(0 AS DOUBLE), (acc, t) -> acc + t)")


def fold_sql(t: str) -> str:
    """DuckDB twin of `fold_expr`."""
    return f"list_reduce(list_sort(list({t})), (acc, t) -> acc + t)"


_HEX = "'0123456789abcdef'"


def md5_bucket_expr(col: str, nibbles: int, buckets: int) -> str:
    """Spark: the first `nibbles` md5 hex digits of `col` as an integer,
    modulo `buckets` — a feature-hashing bucket both engines agree on."""
    return (f"CAST(conv(substring(md5({col}), 1, {nibbles}), 16, 10)"
            f" AS BIGINT) % {buckets}")


def md5_bucket_sql(col: str, nibbles: int, buckets: int) -> str:
    """DuckDB twin of `md5_bucket_expr`: DuckDB has no conv(), so each
    hex digit is decoded by its position in the hex alphabet. The
    two-nibble spelling leaves its last digit unparenthesised; both
    spellings keep the oracle strings the queries were gated with."""
    d = [f"strpos({_HEX}, substr(md5({col}), {i}, 1))"
         for i in range(1, nibbles + 1)]
    terms = [f"({x} - 1) * {16 ** (nibbles - i)}"
             for i, x in enumerate(d[:-1], 1)]
    last = f"{d[-1]} - 1" if nibbles == 2 else f"({d[-1]} - 1)"
    return f"({' + '.join(terms + [last])}) % {buckets}"


NANO = "1000000000.0"
NANO_GRID_EXPR = f"CAST(floor(CAST(x AS DOUBLE) * {NANO} + 0.5) AS BIGINT)"

DAY_US = 86_400_000_000  # microseconds per day: exact integer day buckets

# the coarse sensitive attribute of the events privacy audits
VALUE_BUCKET = "CAST(floor(value / 50.0) AS BIGINT)"
