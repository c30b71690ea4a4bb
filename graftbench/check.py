"""Output checks for the graft benchmark.

Every reference is computed here, in DuckDB (plus a union-find over the
near-duplicate pair graph), from the generated input files; none of it
comes from the program. Each check returns the number of mismatching
rows (0 = correct) so a failure says how wrong the output was.

Float columns the program rounds are compared against exact references:
`value` has two decimals, so sums are computed exactly in integer cents,
and a quotient rounded to 6 decimals must lie within half a unit (ties
included) of the exact quotient.
"""
import duckdb

HOP_SQL = """
  SELECT w_start, event_type, count(*) AS n, sum(cents) AS cents
  FROM (SELECT (epoch_us(ts) // 300000000) * 300000000 - k * 300000000 AS w_start,
               event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
  GROUP BY 1, 2"""

CDC_SQL = """
  SELECT user_id, event_id, epoch_us(ts) AS ts, event_type, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
  WHERE rn = 1 AND event_type <> 'error'"""

TOP_SQL = """
  SELECT row_number() OVER (ORDER BY cents DESC, user_id) AS rank, user_id, cents, n_events
  FROM (SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS cents, count(*) AS n_events
        FROM events GROUP BY 1)
  QUALIFY rank <= 10"""

ROUTE_EXPR = """CASE WHEN event_type = 'purchase' THEN 'billing'
                     WHEN event_type = 'signup' THEN 'crm'
                     WHEN event_type = 'error' THEN 'ops'
                     ELSE 'analytics' END"""


def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{input_dir}/events.parquet/*.parquet')")
    con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{input_dir}/customer.parquet')")
    return con


def diff(con, ref_sql, got_sql):
    """Rows in either side but not the other (multiset difference)."""
    return con.execute(f"""
      WITH ref AS ({ref_sql}), got AS ({got_sql})
      SELECT (SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT * FROM got))
           + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM ref))""").fetchone()[0]


def pq(path):
    return f"read_parquet('{path}/**/*.parquet')"


def check_cdc(con, out):
    return diff(con, CDC_SQL, f"SELECT user_id, event_id, epoch_us(ts), event_type, value FROM {pq(out)}")


def check_top(con, out):
    return diff(con, "SELECT rank, user_id, cents, n_events FROM (" + TOP_SQL + ")",
                f"SELECT rank, user_id, CAST(round(score * 100) AS BIGINT), n_events FROM {pq(out)}")


def check_enriched(con, out):
    """Each event exactly once, with the reference's derived metrics."""
    n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
    n, distinct = con.execute(f"SELECT count(*), count(DISTINCT event_id) FROM {pq(out)}").fetchone()
    bad = con.execute(f"""
      WITH ref AS (
        SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_mktsegment AS segment,
               e.value / 1000.0 AS secs,
               CASE WHEN c.c_acctbal > 0 THEN e.value / c.c_acctbal END AS pct
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey)
      SELECT count(*) FROM ref FULL JOIN {pq(out)} g USING (event_id)
      WHERE g.user_id IS DISTINCT FROM ref.user_id
         OR g.event_type IS DISTINCT FROM ref.event_type
         OR g.value IS DISTINCT FROM ref.value
         OR g.segment IS DISTINCT FROM ref.segment
         OR NOT (abs(g.engagement_seconds - ref.secs) <= 5.000001e-7)
         OR (g.engagement_pct IS NULL) <> (ref.pct IS NULL)
         OR abs(g.engagement_pct - ref.pct) > 5.000001e-7""").fetchone()[0]
    return bad + abs(n - n_events) + abs(distinct - n_events)


def check_routed(con, out):
    """Per-route counts and exact totals; every event routed once, so
    the routes sum to the event count."""
    n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
    src = f"read_parquet('{out}/**/*.parquet', hive_partitioning = true)"
    n, distinct = con.execute(f"SELECT count(*), count(DISTINCT event_id) FROM {src}").fetchone()
    ref = f"""SELECT {ROUTE_EXPR} AS route, count(*), sum(CAST(round(value * 100) AS BIGINT))
              FROM events GROUP BY 1"""
    got = f"SELECT route, count(*), sum(CAST(round(value * 100) AS BIGINT)) FROM {src} GROUP BY 1"
    return diff(con, ref, got) + abs(n - n_events) + abs(distinct - n_events)


def check_hop_append(con, out):
    """The HOP rows whose window end is at or before the final
    watermark (max event time - 47 minutes)."""
    ref = f"""SELECT * FROM ({HOP_SQL})
              WHERE w_start + 600000000
                    <= (SELECT epoch_us(max(ts)) - CAST(47 * 60 AS BIGINT) * 1000000 FROM events)"""
    return diff(con, ref, f"""SELECT epoch_us(w_start), event_type, n,
                                     CAST(round(total * 100) AS BIGINT) FROM {pq(out)}""")


def engagement_checks(con, out, truth):
    """The check of each operation of one engagement_stream round, run
    on demand; each returns its mismatch count."""
    return {
        "operators.cdc_drain_s": lambda: check_cdc(con, f"{out}/cdc_live"),
        "operators.fanout_s": lambda: (check_enriched(con, f"{out}/fanout/enriched")
                                       + check_top(con, f"{out}/leaderboard_top")
                                       + check_routed(con, f"{out}/fanout/routed")),
        "operators.hop_append_s": lambda: check_hop_append(con, f"{out}/hop_append"),
    }


# --- corpus gate ---

# The corpus gate's rules as the program documents them: per-language
# marker words, stopwords, quality cut-off and Jaccard threshold.
LANG_SCORES = {
    "en": ["the", "and", "data", "table", "query"],
    "es": ["el", "la", "los", "datos", "tabla"],
    "de": ["der", "die", "und", "daten"],
    "fr": ["le", "les", "et", "requete"],
}
STOPWORDS = ["the", "a", "an", "and", "or", "of", "in", "to", "is"]
MIN_QUALITY = 0.5
THRESHOLD = 0.5


def corpus_reference(input_dir):
    """The keep/drop verdict per document: marker-count language,
    integer-exact quality score, and near-duplicate clusters from exact
    3-word-shingle Jaccard >= 0.5 (all pairs sharing a shingle are
    scored, which is every pair that can reach the threshold), with the
    smallest doc id of each connected component kept."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"CREATE TABLE docs AS SELECT doc_id, string_split(text, ' ') AS w FROM read_parquet('{input_dir}/documents.parquet/*.parquet')")

    def count_in(words):
        return "CAST(len(list_filter(w, x -> x IN (" + ", ".join(f"'{t}'" for t in words) + "))) AS BIGINT)"
    con.execute(f"""
      CREATE TABLE verdict AS
      WITH s AS (SELECT doc_id, {count_in(LANG_SCORES['en'])} AS en, {count_in(LANG_SCORES['es'])} AS es,
                        {count_in(LANG_SCORES['de'])} AS de, {count_in(LANG_SCORES['fr'])} AS fr,
                        CAST(len(w) AS BIGINT) AS nw, {count_in(STOPWORDS)} AS ns,
                        CAST(length(array_to_string(w, '')) AS BIGINT) AS na
                 FROM docs)
      SELECT doc_id,
             CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
                  WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                  WHEN es >= de AND es >= fr THEN 'es'
                  WHEN de >= fr THEN 'de' ELSE 'fr' END AS pred_lang,
             CAST(((5 * least(nw, 100) * nw + 300 * (nw - ns) + 25 * least(na, 8 * nw)) * 1000) // nw AS DOUBLE)
               / 1000000.0 AS quality
      FROM s""")
    con.execute("""
      CREATE TABLE sh AS
      SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                                    i -> array_to_string(w[i:i+2], ' '))) AS s
      FROM docs""")
    pairs = con.execute(f"""
      WITH n AS (SELECT doc_id, count(*) AS k FROM sh GROUP BY 1),
           inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
                     FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT a, b FROM inter JOIN n na ON na.doc_id = a JOIN n nb ON nb.doc_id = b
      WHERE round(CAST(i AS DOUBLE) / (na.k + nb.k - i), 4) >= {THRESHOLD}""").fetchall()
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    dup = [(d,) for d in parent if find(d) != d]
    con.execute("CREATE TABLE dropped (doc_id BIGINT)")
    if dup:
        con.executemany("INSERT INTO dropped VALUES (?)", dup)
    con.execute(f"""
      CREATE TABLE report AS
      SELECT v.doc_id, v.pred_lang, v.quality, d.doc_id IS NULL AS dedup_kept,
             CASE WHEN v.pred_lang <> 'en' THEN 'lang'
                  WHEN v.quality < {MIN_QUALITY} THEN 'quality'
                  WHEN d.doc_id IS NOT NULL THEN 'duplicate' ELSE 'ok' END AS reason
      FROM verdict v LEFT JOIN dropped d USING (doc_id)""")
    con.execute("ALTER TABLE report ADD COLUMN kept BOOLEAN")
    con.execute("UPDATE report SET kept = reason = 'ok'")
    return con


def check_corpus(con, out, clusters):
    """Report rows that differ from the reference, plus planted clusters
    whose dedup verdict does not keep exactly one member."""
    got = pq(out)
    bad = diff(con, "SELECT doc_id, pred_lang, quality, dedup_kept, reason, kept FROM report",
               f"SELECT doc_id, pred_lang, quality, dedup_kept, reason, kept FROM {got}")
    kept = {d for (d,) in con.execute(f"SELECT doc_id FROM {got} WHERE dedup_kept").fetchall()}
    return bad + sum(1 for c in clusters if len(kept.intersection(c)) != 1)


def corpus_checks(con, out, truth):
    """The check of the one operation of a corpus_stream round."""
    return {"operators.corpus_stream_s":
            lambda: check_corpus(con, f"{out}/report", truth["clusters"])}
