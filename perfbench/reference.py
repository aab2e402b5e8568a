"""Expected outputs, computed by DuckDB from the generated inputs.

The pipeline references restate the plugin chain's arithmetic in SQL:
``aggregate`` block means, then each ``resample`` mode on its target
grid, then the valid fraction that ``check_valid_data_fraction`` prunes
on. Integer expressions and double expressions are written in the same
order as the program's, so boundary cases resolve the same way.
"""
import math


def _cropped(t):
    return (f"(SELECT * FROM agg WHERE y >= {t['src_y_min']} AND y < {t['src_y_max']} "
            f"AND x >= {t['src_x_min']} AND x < {t['src_x_max']})")


def _target_sql(t):
    """SQL for one resample target's output frame: (product, ty, tx, value)."""
    h, w = t["height"], t["width"]
    y0, y1, x0, x1 = t["src_y_min"], t["src_y_max"], t["src_x_min"], t["src_x_max"]
    ry, rx = y1 - y0, x1 - x0
    src = _cropped(t)
    ty = f"((y - {y0}) * {h}) // {ry}"
    tx = f"((x - {x0}) * {w}) // {rx}"
    mode = t["mode"]
    if mode == "average":
        return (f"SELECT product, {ty} AS ty, {tx} AS tx, avg(value) AS value "
                f"FROM {src} GROUP BY ALL")
    if mode == "nearest":
        return f"""
        SELECT product, ty, tx, value FROM (
          SELECT *, row_number() OVER (PARTITION BY product, ty, tx
              ORDER BY dy * dy * {w * w} + dx * dx * {h * h}, y, x) AS rn
          FROM (SELECT *,
              (y::BIGINT - {y0}) * 2 * {h} + {h} - (ty::BIGINT * 2 + 1) * {ry} AS dy,
              (x::BIGINT - {x0}) * 2 * {w} + {w} - (tx::BIGINT * 2 + 1) * {rx} AS dx
            FROM (SELECT *, {ty} AS ty, {tx} AS tx FROM {src})))
        WHERE rn = 1"""
    cells = f"(SELECT product, y, x, avg(value) AS value FROM {src} GROUP BY ALL)"
    if mode == "bilinear":
        corners = [("c00", 0, 0, "(1.0 - fy) * (1.0 - fx)"), ("c01", 0, 1, "(1.0 - fy) * fx"),
                   ("c10", 1, 0, "fy * (1.0 - fx)"), ("c11", 1, 1, "fy * fx")]
        joins = " ".join(
            f"LEFT JOIN {cells} {c} ON {c}.product = t.product "
            f"AND {c}.y = t.y0c + {dy} AND {c}.x = t.x0c + {dx}" for c, dy, dx, _ in corners)
        num = " + ".join(f"{wt} * coalesce({c}.value, 0.0)" for c, _, _, wt in corners)
        den = " + ".join(f"{wt} * (CASE WHEN {c}.value IS NULL THEN 0.0 ELSE 1.0 END)"
                         for c, _, _, wt in corners)
        return f"""
        SELECT product, ty, tx, num / den AS value FROM (
          SELECT t.product, t.ty, t.tx, {num} AS num, {den} AS den
          FROM (SELECT *, (ny - y0c * 2 * {h}) / (2.0 * {h}) AS fy,
                          (nx - x0c * 2 * {w}) / (2.0 * {w}) AS fx
                FROM (SELECT *, floor(ny / (2.0 * {h}))::BIGINT AS y0c,
                                floor(nx / (2.0 * {w}))::BIGINT AS x0c
                      FROM (SELECT p.product, a.ty, b.tx,
                              {2 * y0 * h} + (a.ty * 2 + 1) * {ry} - {h} AS ny,
                              {2 * x0 * w} + (b.tx * 2 + 1) * {rx} - {w} AS nx
                            FROM (SELECT DISTINCT product FROM {cells}) p,
                                 range({h}) a(ty), range({w}) b(tx)))) t
          {joins})
        WHERE den > 0"""
    if mode == "ewa":
        r, wmin = t.get("weight_distance_max", 1.0), t.get("weight_min", 0.01)
        reach, bias = math.ceil(r), 1 << 20
        neg = -math.log(1.0 / wmin) / (r * r)
        return f"""
        WITH c AS (SELECT *, (y::BIGINT - {y0}) * 2 * {h} + {h} AS ny,
                             (x::BIGINT - {x0}) * 2 * {w} + {w} AS nx FROM {cells}),
        b AS (SELECT *, (ny - {ry} + {2 * ry * bias}) // {2 * ry} - {bias} AS tyb,
                        (nx - {rx} + {2 * rx * bias}) // {2 * rx} - {bias} AS txb FROM c),
        k AS (SELECT b.*, tyb + ky AS ty, txb + kx AS tx
              FROM b, range({-reach}, {reach + 1}) k1(ky), range({-reach}, {reach + 1}) k2(kx)),
        d AS (SELECT *, ny / (2.0 * {ry}) - (ty + 0.5) AS dy,
                        nx / (2.0 * {rx}) - (tx + 0.5) AS dx FROM k),
        s AS (SELECT *, dy * dy + dx * dx AS d2 FROM d)
        SELECT product, ty, tx, sum(wt * value) / sum(wt) AS value
        FROM (SELECT *, exp(d2 * {neg!r}) AS wt FROM s
              WHERE d2 <= {r * r!r} AND ty >= 0 AND ty < {h} AND tx >= 0 AND tx < {w})
        GROUP BY ALL"""
    raise ValueError(f"unknown resample mode {mode}")


def granule_chain(con, path, targets, factor, products, min_fraction):
    """Expected files of one granule_chain message:
    ``{(area, product, 'parquet'): {rows, sum, nonnull}}`` for the items
    that survive valid-fraction pruning (``sum``/``nonnull`` only for
    ``average`` targets)."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW agg AS SELECT product, y // {factor} AS y, "
                f"x // {factor} AS x, avg(value) AS value "
                f"FROM read_parquet('{path}') GROUP BY ALL")
    expected = {}
    for t in targets:
        rows = con.execute(
            f"SELECT product, count(*), avg(CASE WHEN value IS NULL THEN 0.0 ELSE 1.0 END), "
            f"sum(value), count(value) FROM ({_target_sql(t)}) GROUP BY product").fetchall()
        for product, n, frac, total, nonnull in rows:
            if product in products and frac >= min_fraction:
                e = {"rows": n}
                if t["mode"] == "average":
                    e.update(sum=total, nonnull=nonnull)
                expected[(t["area"], product, "parquet")] = e
    return expected


def granule_totals(con, paths):
    """Rows, value sum and non-null count of a granule split over files."""
    files = ", ".join(f"'{p}'" for p in paths)
    n, total, nonnull = con.execute(
        f"SELECT count(*), sum(value), count(value) FROM read_parquet([{files}])").fetchone()
    return {"rows": n, "sum": total, "nonnull": nonnull}


def written(con, path, fmt):
    """Rows, value sum and non-null count of one file the program wrote."""
    if fmt == "csv":
        src = (f"read_csv('{path}/*.csv', header = false, columns = "
               "{'product': 'VARCHAR', 'y': 'BIGINT', 'x': 'BIGINT', 'value': 'DOUBLE'})")
    else:
        src = f"read_parquet('{path}/*.parquet')"
    n, total, nonnull = con.execute(
        f"SELECT count(*), sum(value), count(value) FROM {src}").fetchone()
    return {"rows": n, "sum": total, "nonnull": nonnull}


def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def load_tables(con, data_dir, tables):
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
