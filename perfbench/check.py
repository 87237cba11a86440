"""Output checks that run outside the engine, mostly in DuckDB."""
import duckdb


def result(name, ok, detail=""):
    return {"name": name, "ok": bool(ok), "detail": detail}


def corpus(res, data, expected):
    """Each round's curated batch holds exactly the planted survivors, each
    once, and the sink admitted all of them but the planted near
    duplicates of the corpus."""
    o = res["outputs"]
    if "rounds" not in o:
        return [result("corpus.finished", False, "no round completed")]
    out = []
    for r in range(o["rounds"]):
        want = expected["kept_per_round"][r]
        ids = [x[0] for x in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{o[f'round{r}']}') ORDER BY doc_id").fetchall()]
        out.append(result(f"corpus.round{r}.curated_ids", ids == want,
                          f"{len(ids)} ids written, {len(set(ids))} distinct, {len(want)} expected"))
    want = expected["base_docs"] + sum(expected["admitted_per_round"][:o["rounds"]])
    got = duckdb.sql(f"SELECT count(*), count(DISTINCT doc_id) "
                     f"FROM read_parquet('{o['corpus']}/*.parquet')").fetchone()
    out.append(result("corpus.admitted", got[0] == got[1] == want,
                      f"{got[0]} rows, {got[1]} distinct ids in the corpus, {want} expected"))
    return out


# The analyst script restated in DuckDB SQL, step by step, in the order of
# perfbench.Analyst.Script. A `sql` step re-configures the pipeline: its
# query runs over `alldata` (the table after drop, normalize and
# null-marker stages) and its row order is what T6 numbers; a `click`
# step folds a header click into the sort criteria.
def _sql(query, order='"id"'):
    return ("sql", query, order)


OPEN = _sql('SELECT * FROM alldata')
SCRIPT = [
    _sql('SELECT * EXCLUDE ("Codigo", "Valor Frete") FROM alldata WHERE "Qtd" > 20'),
    ("click", "Valor Total"),
    ("click", "Valor Total"),
    ("click", "Cidade"),
    ("click", "Valor Total"),
    _sql('SELECT * REPLACE (round("Valor Total" * 1.1, 2) AS "Valor Total") '
         'FROM alldata WHERE "Categoria" IN (\'A\', \'C\')'),
    ("click", "Qtd"),
    _sql('SELECT "Categoria", "Cidade", count(*) AS n, round(sum("Valor Total"), 2) AS total '
         'FROM alldata GROUP BY ALL', '"Categoria" NULLS FIRST, "Cidade" NULLS FIRST'),
    ("click", "total"),
    _sql('SELECT * EXCLUDE ("Ratio", "Codigo") FROM alldata '
         'WHERE "Cidade" IS NULL OR "Valor Total" > 90000'),
    ("click", "id"),
    OPEN,
]

# SortOps' header-click cycle: unsorted -> desc/nulls first -> asc/nulls
# first -> desc/nulls last -> asc/nulls last -> unsorted.
NEXT = {None: ("DESC", "FIRST"), ("DESC", "FIRST"): ("ASC", "FIRST"),
        ("ASC", "FIRST"): ("DESC", "LAST"), ("DESC", "LAST"): ("ASC", "LAST"),
        ("ASC", "LAST"): None}


def click(criteria, column):
    state = next((s for c, s in criteria if c == column), None)
    rest = [(c, s) for c, s in criteria if c != column]
    nxt = NEXT[state]
    return rest if nxt is None else rest + [(column, nxt)]


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        # 0.01: the two engines may round a x.xx5 double to different cents
        return abs(a - b) <= 0.0101 + 1e-9 * abs(b)
    return a == b


def _rows_equal(xs, ys):
    return len(xs) == len(ys) and all(
        len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y)) for x, y in zip(xs, ys))


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def _expected_view(con, step, criteria):
    """Page and shape of the displayed table after `step`."""
    _, query, order = step
    con.execute(f"CREATE OR REPLACE TEMP VIEW piped AS {query}")
    cols = [r[0] for r in con.execute("DESCRIBE piped").fetchall()]
    counts = con.execute("SELECT " + ", ".join(f"count({_q(c)})" for c in cols) + " FROM piped").fetchone()
    keep = [c for c, n in zip(cols, counts) if n > 0]          # T5
    con.execute("CREATE OR REPLACE TEMP VIEW shown AS SELECT row_number() OVER (ORDER BY "
                f"{order}) AS \"Row Number\", {', '.join(map(_q, keep))} FROM piped")  # T6
    keys = [f"{_q(c)} {d} NULLS {n}" for c, (d, n) in criteria] + ['"Row Number"']
    page = con.execute(f"SELECT * FROM shown ORDER BY {', '.join(keys)} LIMIT 50").fetchall()
    rows = con.execute("SELECT count(*) FROM shown").fetchone()[0]
    return ["Row Number"] + keep, [list(r) for r in page], [rows, len(keep) + 1]


def analyst(res, data, expected):
    """Every page and shape the session showed, and every saved file's
    row count, checksum and leading rows, against the same steps in
    DuckDB over the same CSV."""
    if not res["outputs"]:
        return [result("analyst.finished", False, "no cycle completed")]
    con = duckdb.connect()
    marker = "CASE WHEN trim({0}) IN ('', '<N/D>') THEN NULL ELSE {0} END AS {0}"
    euro = "TRY_CAST(replace(replace({0}, '.', ''), ',', '.') AS DOUBLE) AS {0}"
    con.execute(f"""CREATE VIEW alldata AS SELECT
        CAST(id AS INTEGER) AS id, {marker.format('"Categoria"')}, {marker.format('"Cidade"')},
        {euro.format('"Valor Total"')}, {euro.format('"Valor Frete"')},
        CAST("Qtd" AS INTEGER) AS "Qtd", CAST("Ratio" AS DOUBLE) AS "Ratio",
        {marker.format('"Codigo"')}, {marker.format('"Obs"')}
        FROM read_csv('{data}/analyst.csv', delim=';', header=true, all_varchar=true)""")
    want, step, criteria = [], OPEN, []
    for act in [OPEN] + SCRIPT:
        if act[0] == "sql":
            step, criteria = act, []
        else:
            criteria = click(criteria, act[1])
        want.append(_expected_view(con, step, criteria))
    checksum = ('SELECT count(*), sum("Row Number"), sum(id), round(sum(CAST("Valor Total" AS DOUBLE)), 2), '
                'count("Cidade") FROM {}')
    want_sum = con.execute(checksum.format("shown")).fetchone()
    want_head = con.execute("SELECT id FROM shown ORDER BY \"Row Number\" LIMIT 50").fetchall()
    readers = {"parquet": "read_parquet('{}')", "csv": "read_csv('{}', header=true, delim=',')",
               "json": "read_json('{}', format='array')",
               "ndjson": "read_json('{}', format='newline_delimited')"}

    out = []
    for key, cyc in res["outputs"].items():
        pages = cyc["pages"]
        bad = [p["step"] for p, (cols, rows, shape) in zip(pages, want)
               if p["columns"] != cols or p["shape"] != shape or not _rows_equal(p["rows"], rows)]
        out.append(result(f"analyst.{key}.pages", len(pages) == len(want) and not bad,
                          f"{len(pages)} pages, {len(want)} expected, steps differing: {bad}"))
        for fmt, path in cyc["saved"].items():
            src = readers[fmt].format(path)
            got = con.execute(checksum.format(src)).fetchone()
            head = con.execute(f"SELECT id FROM {src} LIMIT 50").fetchall()
            ok = _rows_equal([list(got)], [list(want_sum)]) and head == want_head
            out.append(result(f"analyst.{key}.save_{fmt}", ok, f"checksum {got} vs {want_sum}"))
    return out


def run(workload, res, data, expected):
    return {"analyst": analyst, "corpus": corpus}[workload](res, data, expected)
