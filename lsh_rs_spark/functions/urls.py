"""URL canonicalization — the dedup key a Common-Crawl pipeline groups on
before any content hashing (same page crawled as http/HTTPS, with tracking
params, fragments, default ports, trailing slashes).

Pure Column expressions with a DuckDB SQL twin built from the SAME steps
(no regex backreferences — Spark uses ``$1`` where DuckDB uses ``\\1``, so
parity-safe surgery uses CASE/substr/list ops instead):

  1. drop the fragment (``#...``)
  2. split scheme://host[:port] from the path+query
  3. lowercase scheme+host; strip default ports (http:80, https:443)
  4. drop tracking query params (utm_*, gclid, fbclid); keep the rest in
     original order; drop the ``?`` when nothing survives
  5. strip one trailing slash from the path

The reference has no URL layer (it consumes vectors); this is a
training-data-pipeline addition in front of exact/near dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def url_canonicalize(url) -> Column:
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, "#.*", "")
    sh = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    rest = u.substr(F.length(sh) + 1, F.length(u))
    sh = F.lower(sh)
    sh = F.when(
        sh.startswith("https://") & sh.endswith(":443"),
        sh.substr(F.lit(1), F.length(sh) - 4),
    ).when(
        sh.startswith("http://") & sh.endswith(":80"),
        sh.substr(F.lit(1), F.length(sh) - 3),
    ).otherwise(sh)
    path = F.regexp_replace(rest, r"\?.*", "")
    qmark = F.instr(rest, "?")
    query = F.when(qmark > 0, rest.substr(qmark + 1, F.length(rest))).otherwise(
        F.lit("")
    )
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~(
            p.startswith("utm_") | p.startswith("gclid") | p.startswith("fbclid")
        ) & (p != ""),
    )
    qs = F.array_join(kept, "&")
    path = F.when(
        path.endswith("/") & (F.length(path) > 1),
        path.substr(F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    return F.concat(
        sh, path, F.when(F.length(qs) > 0, F.concat(F.lit("?"), qs)).otherwise(F.lit(""))
    )


def url_canonicalize_sql(url_expr: str) -> str:
    """DuckDB twin of ``url_canonicalize`` — same steps, same order."""
    u = f"REGEXP_REPLACE({url_expr}, '#.*', '')"
    sh = f"REGEXP_EXTRACT({u}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)"
    rest = f"substr({u}, LENGTH({sh}) + 1)"
    shl = f"LOWER({sh})"
    sh_norm = (
        f"CASE WHEN {shl} LIKE 'https://%' AND {shl} LIKE '%:443' "
        f"THEN substr({shl}, 1, LENGTH({shl}) - 4) "
        f"WHEN {shl} LIKE 'http://%' AND {shl} LIKE '%:80' "
        f"THEN substr({shl}, 1, LENGTH({shl}) - 3) "
        f"ELSE {shl} END"
    )
    path = f"REGEXP_REPLACE({rest}, '\\?.*', '')"
    query = (
        f"CASE WHEN INSTR({rest}, '?') > 0 "
        f"THEN substr({rest}, INSTR({rest}, '?') + 1) ELSE '' END"
    )
    kept = (
        f"LIST_FILTER(STRING_SPLIT({query}, '&'), "
        "p -> NOT (p LIKE 'utm\\_%' ESCAPE '\\' OR p LIKE 'gclid%' "
        "OR p LIKE 'fbclid%') AND p <> '')"
    )
    qs = f"ARRAY_TO_STRING({kept}, '&')"
    path_norm = (
        f"CASE WHEN {path} LIKE '%/' AND LENGTH({path}) > 1 "
        f"THEN substr({path}, 1, LENGTH({path}) - 1) ELSE {path} END"
    )
    return (
        f"CONCAT({sh_norm}, {path_norm}, "
        f"CASE WHEN LENGTH({qs}) > 0 THEN CONCAT('?', {qs}) ELSE '' END)"
    )
