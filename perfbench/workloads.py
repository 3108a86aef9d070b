"""The benchmark's workloads: seeded inputs, the sequence config each runs,
and the checks its outputs must pass.

Every input is generated from the seed alone, so the same seed gives the
same bytes. The program only sees the generated files (and, for
api_fanout, the local HTTP stub serving them).
"""
import glob
import hashlib
import json
import os
import random
import zipfile

import duckdb

# Sizes. Each workload is sized so that one layer does most of the work
# and a cold sequence run takes 15-20 s on 4 cores, so that a benchmark
# run of two fresh JVMs stays under a minute.
FANOUT_ITEMS = 3000
CURATE_DOCS = 800
ORDERS = 20000
ORDERS_DUP_EVERY = 16  # one order in 16 appears twice (exact copy)
MAX_LINES_PER_ORDER = 3  # 1..3 lines per order, 2 on average

PACK_BUDGET = 256
EXECUTION_ID = "bench"

WORDS = ("spark line column order small sort fast value scan hash slow group "
         "batch agg filter query key window row part table stream merge data "
         "join vector big customer the a of to in is and for on with as by at "
         "from be this that it was are or an").split()


def pseudo_vocab(rng, n):
    """Lowercase pseudo-words of 2..9 letters, some with a digit."""
    letters = "etaoinshrdlcumwfgypbvk"
    out = set(WORDS)
    while len(out) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(2, 9)))
        if rng.random() < 0.1:
            w += str(rng.randint(0, 9))
        out.add(w)
    return sorted(out)


class Workload:
    """What one workload needs: its config, its operation count, and the
    check run on the outputs of each sequence run."""

    name = ""
    pipelines = 0
    http_calls = 0  # HTTP calls one sequence run should make

    def __init__(self, seed, work):
        self.work = work
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")
        os.makedirs(self.data, exist_ok=True)
        self.rng = random.Random(f"{self.name}:{seed}")

    def config(self, **extra):
        raise NotImplementedError

    def check(self, epoch=None):
        """Returns a list of failed-check messages (empty when correct)."""
        raise NotImplementedError


def _sql(con, q, *params):
    return con.execute(q, list(params)).fetchall()


class CuratePack(Workload):
    """Near-dedup, repetition and Gopher gates, temperature mix, BPE
    training, curriculum order and sequence packing of a document table."""

    name = "curate_pack"
    pipelines = 1

    def __init__(self, seed, work):
        super().__init__(seed, work)
        rng = self.rng
        vocab = pseudo_vocab(rng, 600)
        # fixed shares, so that every seed gives the same amount of work:
        # plain documents, 5% one phrase repeated, and 10% near-copies (one
        # or two words changed) of distinct plain documents
        n_rep, n_dup = CURATE_DOCS // 20, CURATE_DOCS // 10
        n_plain = CURATE_DOCS - n_rep - n_dup
        docs = [[rng.choice(WORDS) if rng.random() < 0.3 else rng.choice(vocab)
                 for _ in range(rng.randint(8, 100))] for _ in range(n_plain)]
        for _ in range(n_rep):
            phrase = [rng.choice(vocab) for _ in range(rng.randint(2, 4))]
            docs.append((phrase * 40)[:rng.randint(40, 100)])
        for orig in rng.sample(range(n_plain), n_dup):
            words = docs[orig][:]
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            docs.append(words)
        ids = list(range(CURATE_DOCS))
        rng.shuffle(ids)
        path = os.path.join(self.data, "documents.ndjson")
        with open(path, "w") as f:
            for doc_id, words in zip(ids, docs):
                text = " ".join(words)
                f.write(json.dumps({"doc_id": doc_id, "text": text, "lang": "en",
                                    "source": f"src{doc_id % 20}",
                                    "n_chars": len(text)}) + "\n")
        self.docs_path = os.path.join(self.data, "documents.parquet")
        con = duckdb.connect()
        con.execute(f"""COPY (SELECT doc_id::BIGINT AS doc_id, text, lang, source,
            n_chars::BIGINT AS n_chars FROM read_json('{path}', format='newline_delimited',
            columns={{'doc_id':'BIGINT','text':'VARCHAR','lang':'VARCHAR',
            'source':'VARCHAR','n_chars':'BIGINT'}}))
            TO '{self.docs_path}' (FORMAT PARQUET)""")
        con.close()
        self.doc_ids = set(ids)
        self.checksums = set()

    def config(self, **_):
        return f"""
[sequence]
name = "curate-pack"
execution_order = ["pack-epoch"]

[error_handling]
on_pipeline_failure = "stop"

[[pipelines]]
name = "pack-epoch"
[pipelines.source]
type = "file"
path = "{self.docs_path}"
format = "parquet"

[pipelines.transform]
add_processed_flags = false

[pipelines.transform.near_dedup]
id_field = "doc_id"
text_field = "text"
shingle_size = 3

[pipelines.transform.repetition_filter]
id_field = "doc_id"
text_field = "text"

[pipelines.transform.gopher_filter]
id_field = "doc_id"
text_field = "text"
min_words = 30
max_words = 100000
min_mean_word_len = 1.0
max_mean_word_len = 20.0
max_symbol_ratio = 1.0
min_alpha_frac = 0.0
min_stopwords = 0

[pipelines.transform.epoch_pack]
id_field = "doc_id"
text_field = "text"
budget = {PACK_BUDGET}
n_shards = 4
train_merges = 64
layout = "curriculum_range"
diff_field = "n_chars"

[pipelines.load]
output_path = "{self.out}"
output_formats = ["csv"]
filename_pattern = "epoch_{{execution_id}}"
single_file = false
"""

    def check(self, epoch=None):
        parts = glob.glob(os.path.join(self.out, f"epoch_{EXECUTION_ID}_csv", "*.csv"))
        if not parts:
            return ["no packed CSV parts written"]
        con = duckdb.connect()
        files = ", ".join(f"'{p}'" for p in parts)
        rows, bad_ids, bad_pos, checksum = _sql(con, f"""
            SELECT count(*),
                   count(*) FILTER (WHERE doc_id NOT IN (SELECT unnest(?::BIGINT[]))),
                   count(*) FILTER (WHERE seq_pos < 0 OR seq_pos >= {PACK_BUDGET}),
                   sum(hash(shard, seq_no, seq_pos, doc_id, tid) % 1000000007)
            FROM read_csv([{files}], header=true)""", sorted(self.doc_ids))[0]
        con.close()
        bad = []
        if rows == 0:
            bad.append("packed output is empty")
        if bad_ids:
            bad.append(f"{bad_ids} packed rows carry a doc_id not in the input")
        if bad_pos:
            bad.append(f"{bad_pos} packed rows have seq_pos outside [0, {PACK_BUDGET})")
        self.checksums.add((rows, checksum))
        if len(self.checksums) > 1:
            bad.append(f"packed output differs between runs of one seed: {sorted(self.checksums)}")
        return bad


class FanoutExport(Workload):
    """The product's I/O path: an HTTP list API and a parameterized
    per-item fan-out exported as a ZIP, then file-backed orders collected
    into single csv/tsv/json files, line items merged with their orders
    and written distributed, and a combined JSON export of everything."""

    name = "fanout_export"
    pipelines = 5

    def __init__(self, seed, work):
        super().__init__(seed, work)
        rng = self.rng
        vocab = pseudo_vocab(rng, 300)
        ids = rng.sample(range(10 * FANOUT_ITEMS), FANOUT_ITEMS)
        self.items = [{
            "id": i,
            "name": f"item-{i}",
            "value": rng.randint(1, 1000),
            "sku": f"SKU{rng.randint(0, 10**8):08d}",
            "detail": " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 9))),
            "score": round(rng.random() * 100, 3),
            "stock": rng.randint(0, 500),
        } for i in ids]
        self.items_path = os.path.join(self.data, "items.json")
        with open(self.items_path, "w") as f:
            json.dump(self.items, f)
        self.http_calls = FANOUT_ITEMS + 1

        s = int.from_bytes(hashlib.sha256(f"{self.name}:{seed}".encode()).digest()[:4], "big")
        self.orders_path = os.path.join(self.data, "orders.parquet")
        self.lines_path = os.path.join(self.data, "lineitem.parquet")
        con = duckdb.connect()
        con.execute(f"""CREATE TABLE o AS SELECT
            k::BIGINT AS o_orderkey,
            (hash(k, {s}, 1) % 10000)::BIGINT AS o_custkey,
            ['O', 'F', 'P'][(1 + hash(k, {s}, 2) % 3)::BIGINT] AS o_orderstatus,
            round((hash(k, {s}, 3) % 50000000) / 100.0, 2) AS o_totalprice,
            TIMESTAMP '1992-01-01' + to_days((hash(k, {s}, 4) % 2400)::INTEGER) AS o_orderdate,
            ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][(1 + hash(k, {s}, 5) % 5)::BIGINT]
                AS o_orderpriority
            FROM range({ORDERS}) t(k)""")
        con.execute(f"""COPY (SELECT o.* FROM o, range(2) c(copy)
            WHERE copy = 0 OR hash(o_orderkey, {s}, 6) % {ORDERS_DUP_EVERY} = 0
            ORDER BY hash(o_orderkey, copy, {s}, 7)) TO '{self.orders_path}' (FORMAT PARQUET)""")
        con.execute(f"""COPY (SELECT
            k::BIGINT AS l_orderkey,
            (hash(k, j, {s}, 8) % 20000)::BIGINT AS l_partkey,
            (hash(k, j, {s}, 9) % 1000)::BIGINT AS l_suppkey,
            (j + 1)::INTEGER AS l_linenumber,
            (1 + hash(k, j, {s}, 10) % 50)::DOUBLE AS l_quantity,
            round((hash(k, j, {s}, 11) % 10000000) / 100.0, 2) AS l_extendedprice,
            ((hash(k, j, {s}, 12) % 11) / 100.0)::DOUBLE AS l_discount,
            ((hash(k, j, {s}, 13) % 9) / 100.0)::DOUBLE AS l_tax,
            ['A', 'N', 'R'][(1 + hash(k, j, {s}, 14) % 3)::BIGINT] AS l_returnflag,
            ['O', 'F'][(1 + hash(k, j, {s}, 15) % 2)::BIGINT] AS l_linestatus,
            TIMESTAMP '1992-01-01' + to_days((hash(k, j, {s}, 16) % 2500)::INTEGER) AS l_shipdate
            FROM range({ORDERS}) t(k), range({MAX_LINES_PER_ORDER}) l(j)
            WHERE j <= hash(k, {s}, 17) % {MAX_LINES_PER_ORDER}
            ORDER BY hash(k, j, {s}, 18)) TO '{self.lines_path}' (FORMAT PARQUET)""")
        # the oracle: what each output must hold
        (self.n_orders, self.sum_orders, self.sum_price_c), = _sql(con, """
            SELECT count(*), sum(o_orderkey), sum(round(o_totalprice * 100)::BIGINT) FROM o""")
        (self.n_lines, self.sum_lines, self.sum_merged_c), = _sql(con, f"""
            SELECT count(*), sum(l_orderkey), sum(round(o_totalprice * 100)::BIGINT)
            FROM '{self.lines_path}' JOIN o ON l_orderkey = o_orderkey""")
        con.close()
        # `all` holds every frame: items, details, orders and lines
        self.n_all = 2 * FANOUT_ITEMS + self.n_orders + self.n_lines

    def config(self, port, nproc):
        base = f"http://127.0.0.1:{port}"
        return f"""
[sequence]
name = "fanout-export"
execution_order = ["items", "details", "orders", "lines", "all"]

[error_handling]
on_pipeline_failure = "stop"

[[pipelines]]
name = "items"
[pipelines.source]
type = "api"
endpoint = "{base}/items"
timeout_seconds = 30
[pipelines.extract.error_handling]
on_api_failure = "fail"

[[pipelines]]
name = "details"
[pipelines.source]
type = "parameterized"
endpoint = "{base}/item/{{id}}"
timeout_seconds = 30
[pipelines.source.data_source]
from_pipeline = "items"
[pipelines.extract]
concurrent_requests = {nproc}
[pipelines.extract.error_handling]
on_api_failure = "fail"
[pipelines.transform]
record_index_order_by = ["id"]
[pipelines.transform.data_enrichment]
computed_fields = {{ "row_no" = "record_index" }}
[pipelines.load]
output_path = "{self.out}"
output_formats = ["json", "csv", "tsv"]
[pipelines.load.compression]
enabled = true
filename = "fanout_export.zip"
include_metadata = true

[[pipelines]]
name = "orders"
[pipelines.source]
type = "file"
path = "{self.orders_path}"
format = "parquet"
[pipelines.extract.field_mapping]
o_orderkey = "order_id"
o_custkey = "customer_id"
o_totalprice = "total_price"
o_orderdate = "order_date"
[pipelines.extract.data_processing]
deduplicate_fields = ["order_id"]
sort_by = "order_id"
sort_order = "asc"
[pipelines.transform]
record_index_order_by = ["order_id"]
[pipelines.transform.data_enrichment]
computed_fields = {{ "row_no" = "record_index" }}
[pipelines.load]
output_path = "{self.out}"
output_formats = ["csv", "tsv", "json"]
filename_pattern = "orders_{{execution_id}}"

[[pipelines]]
name = "lines"
[pipelines.source]
type = "file"
path = "{self.lines_path}"
format = "parquet"
[pipelines.extract.field_mapping]
l_orderkey = "order_id"
l_extendedprice = "line_price"
[pipelines.transform]
merge_with_previous = true
merge_key = "order_id"
[pipelines.load]
output_path = "{self.out}"
output_formats = ["parquet", "csv"]
filename_pattern = "lines_{{execution_id}}"
single_file = false

[[pipelines]]
name = "all"
[pipelines.source]
type = "combined"
[pipelines.load]
output_path = "{self.out}"
output_formats = ["json"]
filename_pattern = "all_{{execution_id}}"
single_file = false
"""

    def check_zip(self, epoch):
        bad = []
        n = FANOUT_ITEMS
        ids = {it["id"] for it in self.items}
        path = os.path.join(self.out, "fanout_export.zip")
        if not os.path.exists(path):
            return [f"missing {path}"]
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
            want = {"output.json", "output.csv", "output.tsv", "metadata.json"}
            if not want <= names:
                return [f"zip entries {sorted(names)} lack {sorted(want - names)}"]
            rows = json.loads(z.read("output.json"))
            for fmt in ("csv", "tsv"):
                lines = z.read(f"output.{fmt}").decode().rstrip("\n").split("\n")
                if len(lines) - 1 != n:
                    bad.append(f"output.{fmt} has {len(lines) - 1} rows, want {n}")
            meta = json.loads(z.read("metadata.json"))
            if meta.get("execution_id") != EXECUTION_ID:
                bad.append(f"metadata execution_id {meta.get('execution_id')!r}")
        if len(rows) != n or {r.get("id") for r in rows} != ids:
            bad.append(f"ZIP output.json: {len(rows)} rows whose ids differ from the stub's")
        by_id = {it["id"]: it for it in self.items}
        if any(r.get("sku") != by_id.get(r.get("id"), {}).get("sku") for r in rows):
            bad.append("fan-out rows carry another item's detail")
        if sorted(r.get("row_no") for r in rows) not in (list(range(n)), list(range(1, n + 1))):
            bad.append("row_no is not a dense record index")
        if epoch is not None and (epoch["list_calls"] != 1 or epoch["item_calls"] != n
                                  or epoch["distinct_item_ids"] != n or epoch["bad_calls"]):
            bad.append("stub served {list_calls} list + {item_calls} item calls "
                       "({distinct_item_ids} distinct, {bad_calls} bad), want 1 + "
                       "{n}".format(n=n, **epoch))
        return bad

    def check(self, epoch=None):
        bad = self.check_zip(epoch)
        out, eid = self.out, EXECUTION_ID
        con = duckdb.connect()

        def expect(what, got, want):
            if tuple(got) != tuple(want):
                bad.append(f"{what}: got {tuple(got)}, want {tuple(want)}")

        try:
            orders = (self.n_orders, self.sum_orders, self.sum_price_c, self.n_orders)
            for fmt, reader in (("csv", "read_csv('{}', header=true)"),
                                ("tsv", "read_csv('{}', header=true, delim='\t', quote='')"),
                                ("json", "read_json('{}', format='array')")):
                src = reader.format(os.path.join(out, f"orders_{eid}.{fmt}"))
                expect(f"orders.{fmt}", _sql(con, f"""SELECT count(*), sum(order_id),
                    sum(round(total_price * 100)::BIGINT), count(DISTINCT row_no)
                    FROM {src}""")[0], orders)
            (ordered,), = _sql(con, f"""SELECT bool_and(order_id > prev) FROM (
                SELECT order_id, lag(order_id, 1, -1) OVER () AS prev
                FROM read_csv('{os.path.join(out, f'orders_{eid}.csv')}', header=true))""")
            if not ordered:
                bad.append("orders.csv is not sorted by order_id")
            lines = (self.n_lines, self.sum_lines, self.sum_merged_c)
            for fmt, reader in (("parquet", "read_parquet('{}/*.parquet')"),
                                ("csv", "read_csv('{}/*.csv', header=true)")):
                src = reader.format(os.path.join(out, f"lines_{eid}_{fmt}"))
                expect(f"lines.{fmt}", _sql(con, f"""SELECT count(*), sum(order_id),
                    sum(round(total_price * 100)::BIGINT) FROM {src}""")[0], lines)
            expect("all.json", _sql(con, f"""SELECT count(*), sum(order_id), count(id),
                count(DISTINCT id) FROM read_json('{os.path.join(out, f'all_{eid}_json')}/*.json',
                format='newline_delimited')""")[0],
                (self.n_all, self.sum_orders + self.sum_lines, 2 * FANOUT_ITEMS, FANOUT_ITEMS))
        except duckdb.Error as e:
            bad.append(f"output unreadable: {e}")
        finally:
            con.close()
        return bad


WORKLOADS = {w.name: w for w in (CuratePack, FanoutExport)}
