"""Independent correctness oracle: a DuckDB latest-wins fold of the same
generated change files, compared cell-exact with the replica.

Both sides are projected to strings (timestamps as ``yyyy-MM-dd
HH:mm:ss``, amounts as their two-decimal text) so the comparison does not
depend on either engine's client-side type conversion."""

from __future__ import annotations

import duckdb

IMAGE_FIELDS = (
    "transaction_id user_id timestamp amount currency city country "
    "merchant_name payment_method ip_address voucher_code affiliate_id"
).split()


def _events_sql(files: list[str]) -> str:
    listing = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"""
        SELECT key,
               json_extract_string(value, '$.op') AS op,
               CAST(json_extract(value, '$.source.lsn') AS BIGINT) AS lsn,
               CAST(json_extract(value, '$.ts_ms') AS BIGINT) AS ts_ms,
               json_extract(value, '$.after') AS after
        FROM read_json([{listing}], format = 'newline_delimited',
                       columns = {{'key': 'VARCHAR', 'value': 'VARCHAR'}})
    """


def fold(files: list[str]) -> tuple[dict[str, tuple], set[str]]:
    """Latest-wins by ``(lsn, ts_ms)`` over every event in ``files``.

    Returns the live rows (key -> tuple of string cells in
    :data:`IMAGE_FIELDS` order) and the keys whose latest change is a
    delete."""
    cells = ", ".join(f"json_extract_string(after, '$.{c}')" for c in IMAGE_FIELDS)
    sql = f"""
        WITH ev AS ({_events_sql(files)}),
        last AS (
            SELECT * FROM ev
            QUALIFY row_number() OVER (PARTITION BY key ORDER BY lsn DESC, ts_ms DESC) = 1
        )
        SELECT key, op, {cells} FROM last
    """
    con = duckdb.connect()
    try:
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    live = {r[0]: tuple(r[2:]) for r in rows if r[1] != "d"}
    deleted = {r[0] for r in rows if r[1] == "d"}
    return live, deleted


def view_of(live: dict[str, tuple]) -> dict[str, tuple[int, int]]:
    """The per-merchant view over oracle rows: merchant -> (n_txn, sum_cents)."""
    m_i = IMAGE_FIELDS.index("merchant_name")
    a_i = IMAGE_FIELDS.index("amount")
    out: dict[str, list[int]] = {}
    for cells in live.values():
        units, cents = cells[a_i].split(".")
        acc = out.setdefault(cells[m_i], [0, 0])
        acc[0] += 1
        acc[1] += int(units) * 100 + int(cents)
    return {k: (v[0], v[1]) for k, v in out.items()}


def string_cells():
    """Spark projection of a sink row to the oracle's string cells."""
    from pyspark.sql import functions as F

    out = [F.col("key")]
    for c in IMAGE_FIELDS:
        if c == "timestamp":
            out.append(F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c))
        else:
            out.append(F.col(c).cast("string").alias(c))
    return out


def diff_rows(expected: dict[str, tuple], got_rows) -> int:
    """Number of keys whose cells differ, are missing or are unexpected."""
    got = {r[0]: tuple(r[1:]) for r in got_rows}
    bad = sum(1 for k, v in expected.items() if got.get(k) != v)
    bad += sum(1 for k in got if k not in expected)
    bad += len(got_rows) - len(got)  # duplicate keys
    return bad
