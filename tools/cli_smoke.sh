#!/usr/bin/env bash
# End-to-end smoke of the snapshot-table CLI surface against real testdata:
# create -> append -> merge-on-read delete -> manifest count -> changelog ->
# compaction fold (absorbs the vector) ->
# shallow clone -> keyed merge (merge-on-read: one vector, no rewrite) ->
# maintain -> SQL over the planner-integrated view (and a
# -D conf override reaching the CLI session) ->
# WARC ingest (externally-written gzip WARC) -> prepare over the ingested
# crawl -> chunk import/export through migrate. Exercises the command paths
# the ScalaTest specs reach only as library calls.
#
# Usage: bash tools/cli_smoke.sh   (after `sbt compile`; ~4 min on 4 cores)
set -euo pipefail
cd "$(dirname "$0")/.."
W=/tmp/graft/cli_smoke
rm -rf "$W" && mkdir -p "$W"
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
G() { java -cp "$CP" -Xmx4g graft.cli.GraftCli "$@" 2>/dev/null; }
T=$W/tbl

python3 - << 'PY'
import duckdb, gzip
duckdb.sql("COPY (SELECT * FROM '/root/testdata/sf0.001/documents.parquet') TO '/tmp/graft/cli_smoke/docs.parquet'")
rows = duckdb.sql("SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet' LIMIT 50").fetchall()
# crawl pages over ten sites: a repeated boilerplate paragraph, the body as
# one sentence, a junk paragraph, so pages survive prepare's quality stages
with gzip.open('/tmp/graft/cli_smoke/crawl.warc.gz', 'wb') as f:
    for doc_id, text in rows:
        body = ("<html><body><p>Free hosting provided by Example Corp new terms apply today.</p>"
                f"<p>{text}.</p><p>click here</p></body></html>").encode()
        f.write((f"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: https://s{doc_id % 10}.test/{doc_id}\r\n"
                 f"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Type: text/plain\r\n"
                 f"Content-Length: {len(body)}\r\n\r\n").encode())
        f.write(body); f.write(b"\r\n\r\n")
# a two-file table for snapshot-merge (doc_id below / from 250) and its
# source: 25 updates in the low file plus 5 fresh keys
docs = "'/tmp/graft/cli_smoke/docs.parquet'"
duckdb.sql(f"COPY (SELECT * FROM {docs} WHERE doc_id < 250) TO '/tmp/graft/cli_smoke/lo.parquet'")
duckdb.sql(f"COPY (SELECT * FROM {docs} WHERE doc_id >= 250) TO '/tmp/graft/cli_smoke/hi.parquet'")
duckdb.sql(f"""COPY (SELECT doc_id, text, lang, source, n_chars + 1000000 AS n_chars FROM {docs}
                     WHERE doc_id < 250 AND doc_id % 10 = 0
                     UNION ALL SELECT doc_id + 1000, text, lang, source, n_chars FROM {docs}
                     WHERE doc_id < 5) TO '/tmp/graft/cli_smoke/ups.parquet'""")
PY

G snapshot-create "$T"
G snapshot-append "$T" "$W/docs.parquet"
DL=$(G snapshot-delete "$T" "n_chars < 150")
[[ "$DL" =~ (^|$'\n')version=2\ rows_deleted=[1-9][0-9]*\ files_with_dv=[1-9][0-9]*\  ]] \
  || { echo "snapshot-delete: no version line with rows_deleted= and files_with_dv=: $DL"; exit 1; }
G snapshot-count "$T"
G snapshot-changes "$T" 0 2
# every file under 1 MB or carrying a vector folds: the delete's vector is absorbed
CM=$(G snapshot-compact "$T" 1000000)
[[ "$CM" =~ (^|$'\n')version=3\ files_folded=[1-9][0-9]*\ files_carried=0($|$'\n') ]] \
  || { echo "snapshot-compact: no version line with files_folded=: $CM"; exit 1; }
# a non-numeric smallBytes (the old key-column form) is a usage error, exit 2
RC=0; G snapshot-compact "$T" doc_id > /dev/null || RC=$?
[[ $RC == 2 ]] || { echo "snapshot-compact <table> doc_id: exit $RC, want 2"; exit 1; }
G snapshot-clone "$T" "$W/clone"
# keyed merge: the matched rows gain one vector in the low file, the source
# lands as one file group, and every pre-merge data file stays referenced
G snapshot-create "$W/mtbl"
G snapshot-append "$W/mtbl" "$W/lo.parquet"
G snapshot-append "$W/mtbl" "$W/hi.parquet"
MG=$(G snapshot-merge "$W/mtbl" "$W/ups.parquet" doc_id)
[[ "$MG" =~ (^|$'\n')version=3\ .*files_with_dv=1\ .*rows_updated=25\ rows_inserted=5($|$'\n') ]] \
  || { echo "snapshot-merge: no version line with files_with_dv=1 rows_updated=25 rows_inserted=5: $MG"; exit 1; }
python3 - << 'PY'
import duckdb
def files(v):
    m = f"/tmp/graft/cli_smoke/mtbl/_log/v{v:08d}/*.json"
    return {r[0] for r in duckdb.sql(f"SELECT path FROM read_json_auto('{m}') WHERE kind = 'file'").fetchall()}
assert files(2) <= files(3), f"snapshot-merge rewrote {files(2) - files(3)}"
PY
G snapshot-maintain "$T" 1000000 1
G snapshot-sql "$T" docs "SELECT count(*) AS n FROM docs WHERE n_chars >= 150" | tail -4
# Spark's own settings win over the session defaults: a -D conf must reach
# the CLI's session unchanged
S=$(java -Dspark.sql.shuffle.partitions=3 -cp "$CP" -Xmx4g graft.cli.GraftCli \
  snapshot-sql "$T" docs "SET spark.sql.shuffle.partitions" 2>/dev/null)
[[ "$S" =~ \|spark\.sql\.shuffle\.partitions\|3\ *\| ]] \
  || { echo "-Dspark.sql.shuffle.partitions=3 did not reach the CLI session: $S"; exit 1; }
G warc-ingest "$W/*.warc.gz" "$W/crawl_tbl"
# crawl -> training shards straight from the warc-ingest table: url-derived
# 60-bit ids through every stage fingerprint (a long sum of a dozen such ids
# overflows), landing a snapshot table of >= 8 rows
P=$(G prepare "$W/crawl_tbl" "$W/corpus_tbl")
[[ "$P" =~ (^|$'\n')version=[0-9]+\ rows=([0-9]+)($|$'\n') ]] && (( BASH_REMATCH[2] >= 8 )) \
  || { echo "prepare over the warc-ingest table: no version line with >= 8 rows: $P"; exit 1; }
# crawl -> search: keep a BM25 index current with the WARC table's commits
M1=$(G text-index-refresh "$W/crawl_tbl" "$W/crawl_idx" "$W/crawl_idx_cur")
M2=$(G text-index-refresh "$W/crawl_tbl" "$W/crawl_idx" "$W/crawl_idx_cur")
[[ "$M1" == *"mode=rebuild"* && "$M2" == *"mode=noop"* ]] \
  || { echo "index refresh modes wrong: $M1 / $M2"; exit 1; }
# record a clustering discipline, then stream the table's changelog twice
# (second run must be a no-op continuation from the checkpoint's offset)
G snapshot-cluster "$T" doc_id --limit=200
G snapshot-stream "$T" "$W/feed" "$W/feed_ckpt"
G snapshot-append "$T" "$W/docs.parquet"
G snapshot-stream "$T" "$W/feed" "$W/feed_ckpt"
python3 - << 'PY'
import duckdb
n = duckdb.sql("SELECT count(*) FROM '/tmp/graft/cli_smoke/feed/*.parquet'").fetchone()[0]
t = duckdb.sql("SELECT count(*) FROM '/root/testdata/sf0.001/documents.parquet'").fetchone()[0]
kept = duckdb.sql("SELECT count(*) FROM '/root/testdata/sf0.001/documents.parquet' WHERE n_chars >= 150").fetchone()[0]
# feed = initial snapshot (kept rows, clustered replace emits nothing) + second append as changelog
assert n == kept + t, f"feed rows {n} != {kept}+{t}"
PY
# chunk import/export: a DuckDB-written chunk-shaped parquet dir goes
# parquet -> store -> json -> store, each step moving every row, and the
# final store holds exactly the input's chunkIds
python3 - << 'PY'
import duckdb, os
os.makedirs('/tmp/graft/cli_smoke/chunks_in')
duckdb.sql("""COPY (SELECT 'doc' || doc_id || '_chunk_0' AS chunkId, 'doc' || doc_id AS documentId,
                           source AS datasetName, text AS content, CAST(n_chars AS INTEGER) AS tokenCount,
                           lang AS sectionHeading, '' AS absoluteAddress, 'none' AS splitReason,
                           CAST(NULL AS VARCHAR) AS parentChunkId, md5(text) AS sourceHash,
                           ['r' || (doc_id % 3)] AS crossRefs, CAST(0 AS INTEGER) AS chunkIndex,
                           [CAST(doc_id AS FLOAT), 0.5::FLOAT] AS embedding, 'm' AS embeddingModel,
                           '2024-01-01' AS embeddedAt
                    FROM '/tmp/graft/cli_smoke/docs.parquet' WHERE doc_id % 7 = 0)
              TO '/tmp/graft/cli_smoke/chunks_in/part-0.parquet'""")
PY
MI=$(G migrate "$W/chunks_in" parquet "$W/chunk_store" snapshot | grep '^migrated=')
MO=$(G migrate "$W/chunk_store" snapshot "$W/chunks_json" json | grep '^migrated=')
MB=$(G migrate "$W/chunks_json" json "$W/chunk_store2" snapshot | grep '^migrated=')
[[ "$MI" =~ ^migrated=[1-9][0-9]*$ && "$MO" == "$MI" && "$MB" == "$MI" ]] \
  || { echo "migrate parquet -> snapshot -> json -> snapshot moved different counts: $MI / $MO / $MB"; exit 1; }
python3 - << 'PY'
import duckdb, glob, json
W = '/tmp/graft/cli_smoke'
cur = int(open(f'{W}/chunk_store2/_current').read().strip())
rows = [json.loads(l) for f in glob.glob(f'{W}/chunk_store2/_log/v{cur:08d}/*.json') for l in open(f)]
files = [r for r in rows if r.get('kind') == 'file']
assert files and not any(r.get('dv_path') for r in files), f"an import into a new store deletes nothing: {files}"
got = {r[0] for r in duckdb.sql("SELECT chunkId FROM read_parquet([" +
       ", ".join(f"'{W}/chunk_store2/{r['path']}'" for r in files) + "])").fetchall()}
want = {r[0] for r in duckdb.sql(f"SELECT chunkId FROM '{W}/chunks_in/*.parquet'").fetchall()}
assert got == want, f"store chunkIds differ from the input: {len(got ^ want)} differ"
PY
# the retired parquet/json store formats fail at config load, naming migrate
if ST=$(java -cp "$CP" -Xmx4g graft.cli.GraftCli status "$W/ledger" "$W/chunk_store2" \
    --storage-type=parquet 2>&1); then
  echo "status --storage-type=parquet must fail"; exit 1
fi
[[ "$ST" == *"storageType 'parquet'"*migrate* ]] \
  || { echo "status --storage-type=parquet failed without naming migrate: ${ST: -400}"; exit 1; }
echo "cli_smoke: OK"
