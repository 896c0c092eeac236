"""Output checks, run after the timed window.

Each request the generator marked for checking is compared with an
independent answer:

- explore: the same question asked of DuckDB over the same parquet
  files, compared cell by cell on exact values (floats on their
  IEEE-754 bits, so -0.0 differs from 0.0), the rule of the repo's
  tools/check_oracle.py.
- analyze: the Bray-Curtis pair frame against DuckDB (exact), and the
  PERMANOVA and betadisper observed F statistics and the PCoA first
  axis against NumPy computations from that distance matrix (to a
  tolerance: both sides round).
- curate: the landed rows read back must be exactly the documents
  keepBest kept, one per duplicate cluster, and identical texts in a
  batch must share a cluster.

Every function returns a list of failure messages, empty when the
output is correct.
"""
import struct

import duckdb
import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _q(s):
    return "'" + s.replace("'", "''") + "'"


def _canon(x):
    if isinstance(x, bool):
        return ("b", x)
    if isinstance(x, float):
        return ("f", struct.pack("<d", x))
    if isinstance(x, int):
        return ("i", x)
    if isinstance(x, (list, tuple)):
        return ("a", tuple(_canon(v) for v in x))
    if x is None:
        return ("n",)
    return ("s", str(x))


def same_rows(got, want):
    """Messages for the first differences between two row lists."""
    if len(got) != len(want):
        return [f"{len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or any(_canon(a) != _canon(b) for a, b in zip(g, w)):
            return [f"row {i}: {g!r} != expected {w!r}"]
    return []


# ---------------------------------------------------------------- explore

def explore_sql(kind, p):
    dsum = "CAST(sum(CAST({} AS DECIMAL(18,2))) AS DOUBLE)"
    if kind == "filter":
        status, lo, hi, prios, top, seg = p
        inlist = ", ".join(_q(x) for x in prios.split(","))
        return f"""
          SELECT p_type, count(*) AS n_obs, {dsum.format('l_quantity')} AS abundance
          FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          JOIN part ON l_partkey = p_partkey
          WHERE (o_orderstatus = {_q(status)}
                 AND o_totalprice BETWEEN CAST({lo} AS DOUBLE) AND CAST({hi} AS DOUBLE)
                 AND o_orderpriority IN ({inlist}))
             OR (o_totalprice > CAST({top} AS DOUBLE) AND NOT (c_mktsegment = {_q(seg)}))
          GROUP BY p_type ORDER BY p_type"""
    if kind == "browse":
        mfgr, ptype = p
        return f"""
          SELECT p_brand, CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_taxa,
            CAST(count(DISTINCT n_name) AS BIGINT) AS n_samples,
            {dsum.format('l_quantity')} AS abundance
          FROM lineitem JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE CAST(string_split(p_brand, '#')[2] AS INT) // 10 = {int(mfgr)}
            AND p_type = {_q(ptype)}
          GROUP BY p_brand ORDER BY p_brand"""
    if kind == "krona":
        return f"""
          SELECT p_type, p_brand, {dsum.format('l_quantity')} AS abundance,
            count(*) AS n_obs
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_type, p_brand ORDER BY p_type, p_brand"""
    if kind == "rollup":
        return f"""
          SELECT coalesce(p_type, 'ALL') AS lvl_type,
            coalesce(p_brand, 'ALL') AS lvl_brand,
            coalesce(CAST(p_size AS VARCHAR), 'ALL') AS lvl_size,
            {dsum.format('l_quantity')} AS abundance, count(*) AS n_obs
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY ROLLUP(p_type, p_brand, p_size)
          ORDER BY lvl_type, lvl_brand, lvl_size"""
    if kind == "contingency":
        cols = ", ".join(f"count(CASE WHEN r_name = {_q(r)} THEN 1 END) AS \"{r}\""
                         for r in REGIONS)
        return f"""
          SELECT c_mktsegment, {cols}
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY c_mktsegment ORDER BY c_mktsegment"""
    if kind == "histogram":
        w = f"CAST({p[0]} AS DOUBLE)"
        return f"""
          SELECT floor(o_totalprice / {w}) * {w} AS bin_start, count(*) AS n_orders,
            {dsum.format('o_totalprice')} AS total_price
          FROM orders GROUP BY 1 ORDER BY bin_start"""
    if kind == "keyset":
        day, key, limit = p
        ts = f"TIMESTAMP '{day} 00:00:00'"
        return f"""
          SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice
          FROM orders
          WHERE o_orderdate > {ts} OR (o_orderdate = {ts} AND o_orderkey > {int(key)})
          ORDER BY o_orderdate, o_orderkey LIMIT {int(limit)}"""
    if kind == "diversity":
        return """
          WITH by_type AS (
            SELECT c_mktsegment, p_type, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, p_type),
          shares AS (
            SELECT c_mktsegment, CAST(qty AS DOUBLE)
              / CAST(sum(qty) OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS p
            FROM by_type)
          SELECT c_mktsegment, count(*) AS richness,
            round(-sum(p * ln(p)), 6) AS shannon, round(1.0 - sum(p * p), 6) AS simpson
          FROM shares GROUP BY c_mktsegment ORDER BY c_mktsegment"""
    if kind == "biom":
        cols = ", ".join(
            f"CAST(sum(CASE WHEN p_type = {_q(t)} THEN CAST(l_quantity AS DECIMAL(18,2)) END)"
            f" AS DOUBLE) AS \"{t}\"" for t in TYPES)
        return f"""
          SELECT n_name, {cols}
          FROM lineitem JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name"""
    if kind == "csv":
        return """
          SELECT c_custkey, c_name, c_mktsegment, o_orderkey,
            strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_orderstatus = 'F' ORDER BY o_orderkey"""
    raise ValueError(f"unknown explore kind {kind!r}")


def check_explore(con, res):
    got = res["frames"]["result"]
    want = con.execute(explore_sql(res["kind"], res["params"]))
    cols = [d[0] for d in want.description]
    if [c.lower() for c in got["cols"]] != [c.lower() for c in cols]:
        return [f"columns {got['cols']} != expected {cols}"]
    return same_rows(got["rows"], want.fetchall())


# ---------------------------------------------------------------- analyze

def _subset_sql(p):
    nations, seg, size, salt = p
    return f"""
      SELECT c_custkey, c_name, n_name AS grp FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      WHERE c_nationkey IN ({nations}) AND c_mktsegment = {_q(seg)}
      ORDER BY (c_custkey * 2654435761 + {int(salt)}) % 2147483647, c_custkey
      LIMIT {int(size)}"""


def bray_curtis_sql(p):
    return f"""
      WITH sub AS ({_subset_sql(p)}),
      ab AS (
        SELECT c_name AS n_name, p_brand || '|' || p_type AS p_type,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN sub ON o_custkey = c_custkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2),
      tot AS (SELECT n_name, sum(qty) AS s FROM ab GROUP BY n_name),
      cm AS (
        SELECT a.n_name AS sample_a, b.n_name AS sample_b, sum(least(a.qty, b.qty)) AS c
        FROM ab a JOIN ab b ON a.p_type = b.p_type AND a.n_name < b.n_name
        GROUP BY 1, 2)
      SELECT ta.n_name AS sample_a, tb.n_name AS sample_b,
        round(1.0 - 2.0 * CAST(coalesce(cm.c, 0) AS DOUBLE)
          / (CAST(ta.s AS DOUBLE) + CAST(tb.s AS DOUBLE)), 6) AS bray_curtis
      FROM tot ta JOIN tot tb ON ta.n_name < tb.n_name
      LEFT JOIN cm ON cm.sample_a = ta.n_name AND cm.sample_b = tb.n_name
      ORDER BY sample_a, sample_b"""


def _anova_f(values, groups):
    names = sorted(set(groups))
    n, k = len(values), len(names)
    mean = values.mean()
    ssb = sum(values[groups == g].size * (values[groups == g].mean() - mean) ** 2
              for g in names)
    ssw = sum(((values[groups == g] - values[groups == g].mean()) ** 2).sum()
              for g in names)
    return (ssb / (k - 1)) / (ssw / (n - k))


def _close(a, b, tol):
    return abs(a - b) <= tol * max(1.0, abs(b))


def check_analyze(con, res):
    p, fr = res["params"], res["frames"]
    msgs = []
    bc = fr["bray_curtis"]["rows"]
    msgs += ["bray_curtis: " + m for m in
             same_rows(bc, con.execute(bray_curtis_sql(p)).fetchall())]
    sub = con.execute(_subset_sql(p)).fetchall()
    names = sorted(r[1] for r in sub)
    grp = dict((r[1], r[2]) for r in sub)
    idx = {s: i for i, s in enumerate(names)}
    n = len(names)
    d = np.zeros((n, n))
    for a, b, v in bc:
        d[idx[a], idx[b]] = d[idx[b], idx[a]] = v
    groups = np.array([grp[s] for s in names])
    d2 = d * d
    # PERMANOVA pseudo-F from the distance matrix (Anderson 2001)
    k = len(set(groups))
    sst = d2[np.triu_indices(n, 1)].sum() / n
    ssw = sum(d2[np.ix_(groups == g, groups == g)][np.triu_indices((groups == g).sum(), 1)]
              .sum() / (groups == g).sum() for g in set(groups))
    f_perm = ((sst - ssw) / (k - 1)) / (ssw / (n - k))
    # betadisper: distance of each sample to its group centroid in the
    # principal-coordinate space, from the squared distances alone
    z = np.zeros(n)
    for g in set(groups):
        m = groups == g
        sub2 = d2[np.ix_(m, m)]
        z[m] = np.sqrt(np.maximum(sub2.mean(axis=1) - sub2.mean() / 2.0, 0.0))
    f_disp = _anova_f(z, groups)
    for name, want in (("permanova", f_perm), ("betadisper", f_disp)):
        row = fr[name]["rows"]
        cols = fr[name]["cols"]
        if len(row) != 1:
            msgs.append(f"{name}: {len(row)} rows, expected 1")
            continue
        got = dict(zip(cols, row[0]))
        if got["n_samples"] != n or got["n_groups"] != k:
            msgs.append(f"{name}: n={got['n_samples']} groups={got['n_groups']}, "
                        f"expected {n} and {k}")
        if not _close(got["f_obs"], want, 1e-4):
            msgs.append(f"{name}: f_obs {got['f_obs']} != {want:.6f}")
        if not 0.0 < got["p_value"] <= 1.0:
            msgs.append(f"{name}: p_value {got['p_value']} outside (0, 1]")
    # PCoA: axis 1 is the leading eigenvector of the Gower-centred
    # matrix, up to sign and scale
    cen = np.eye(n) - 1.0 / n
    w, v = np.linalg.eigh(-0.5 * cen @ d2 @ cen)
    lead = v[:, np.argmax(w)]
    axes = {r[0]: r[1] for r in fr["pcoa"]["rows"]}
    if sorted(axes) != names:
        msgs.append(f"pcoa: {len(axes)} samples, expected {n}")
    else:
        got = np.array([axes[s] for s in names])
        corr = abs(float(np.dot(got, lead)) / (np.linalg.norm(got) * np.linalg.norm(lead)))
        if not corr > 0.999:
            msgs.append(f"pcoa: axis 1 correlates {corr:.6f} with the leading eigenvector")
    return msgs


# ----------------------------------------------------------------- curate

def check_curate(res, batch_rows):
    fr = res["frames"]
    best = fr["keep_best"]["rows"]
    cols = fr["keep_best"]["cols"]
    i_doc, i_cl, i_keep = (cols.index(c) for c in ("doc_id", "cluster_id", "keep_best"))
    msgs = []
    ids = sorted(r[0] for r in batch_rows)
    if sorted(r[i_doc] for r in best) != ids:
        msgs.append(f"keepBest has {len(best)} documents, the batch {len(ids)}")
    kept = sorted(r[i_doc] for r in best if r[i_keep])
    landed = sorted(r[0] for r in fr["landed"]["rows"])
    if landed != kept:
        msgs.append(f"landed {len(landed)} rows, keepBest kept {len(kept)}"
                    + ("" if len(landed) != len(kept) else " (keys differ)"))
    clusters = {}
    for r in best:
        clusters.setdefault(r[i_cl], []).append(r[i_keep])
    bad = [c for c, keeps in clusters.items() if sum(keeps) != 1]
    if bad:
        msgs.append(f"{len(bad)} clusters do not keep exactly one document")
    cluster = {r[i_doc]: r[i_cl] for r in best}
    by_text = {}
    for doc, text, *_ in batch_rows:
        by_text.setdefault(text, set()).add(cluster.get(doc))
    split = sum(1 for cs in by_text.values() if len(cs) > 1)
    if split:
        msgs.append(f"{split} identical texts landed in different clusters")
    return msgs


def check(workload, con, res, batch_rows=None):
    if workload == "explore":
        return check_explore(con, res)
    if workload == "analyze":
        return check_analyze(con, res)
    return check_curate(res, batch_rows)

