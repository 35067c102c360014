-- Reference results for the btc_ledger workload, in DuckDB, over the
-- generated chain in {data}: one table per stage of BtcPipeline.run, then
-- the moments of the log-log cohort fits of CohortAnalysis.prePost
-- (split 2021-09-24, outflow cohort 'China', inflow cohort not 'China').
-- Written from the reference pipeline's SQL (btcolap.sql), not from the
-- engine's code. Timestamps are UTC. The UNNESTs arrive done: run.py
-- flattens the arrays with pyarrow into
--   input_addresses / output_addresses (block_timestamp, transaction_hash,
--                                        block_number, a)
--   tx_input_legs / tx_output_legs      (txid, block_timestamp, addr, satoshi)
-- (explode semantics: an empty or null array gives no row), which DuckDB
-- 1.0 does several times faster than its own UNNEST of these shapes.

CREATE TABLE address_book AS
SELECT DISTINCT wallet, address FROM read_parquet('{data}/address_book.parquet');

CREATE TABLE txid_input AS
SELECT CAST(e.block_timestamp AS TIMESTAMP) AS block_timestamp, b.wallet,
       e.a AS wallet_address, e.transaction_hash, e.block_number
FROM input_addresses e JOIN address_book b ON e.a = b.address;

CREATE TABLE txid_output AS
SELECT CAST(e.block_timestamp AS TIMESTAMP) AS block_timestamp, b.wallet,
       e.a AS wallet_address, e.transaction_hash, e.block_number
FROM output_addresses e JOIN address_book b ON e.a = b.address;

-- UNION DISTINCT of both legs, then every row of a hash seen twice goes
CREATE TABLE txid_sum AS
WITH u AS (
  SELECT block_timestamp, wallet, wallet_address, transaction_hash FROM txid_input
  UNION
  SELECT block_timestamp, wallet, wallet_address, transaction_hash FROM txid_output)
SELECT * FROM u
WHERE transaction_hash IN (SELECT transaction_hash FROM u GROUP BY 1 HAVING count(*) = 1);

-- signed two-leg flow of the tracked transactions: inputs negative,
-- outputs positive, satoshi / 1e8. run.py sets {satoshi} to `satoshi`, or,
-- for the recorded engine defect, to the satoshi rounded half up to tens
-- (BTC at 7 decimal places)
CREATE TABLE flow AS
SELECT CAST(block_timestamp AS TIMESTAMP) AS block_timestamp, txid, 'input' AS type, addr,
       -(CAST({satoshi} AS DOUBLE) / 100000000.0) AS val
FROM tx_input_legs WHERE txid IN (SELECT transaction_hash FROM txid_sum)
UNION ALL
SELECT CAST(block_timestamp AS TIMESTAMP) AS block_timestamp, txid, 'output' AS type, addr,
       CAST({satoshi} AS DOUBLE) / 100000000.0 AS val
FROM tx_output_legs WHERE txid IN (SELECT transaction_hash FROM txid_sum);

CREATE VIEW flow_pre AS SELECT * FROM flow WHERE block_timestamp < TIMESTAMP '2021-09-24';
CREATE VIEW flow_post AS SELECT * FROM flow WHERE block_timestamp > TIMESTAMP '2021-09-24';

CREATE TABLE wallet_location AS
SELECT wallet, location
FROM read_json('{data}/wallet_location.ndjson', format = 'newline_delimited',
               columns = {wallet: 'VARCHAR', location: 'VARCHAR', "Unnamed: 2": 'VARCHAR'});

CREATE TABLE located AS
SELECT f.block_timestamp, f.txid, f.type, w.location, b.wallet, f.addr, f.val
FROM flow f JOIN address_book b ON f.addr = b.address
JOIN wallet_location w ON b.wallet = w.wallet;

CREATE VIEW located_pre AS SELECT * FROM located WHERE block_timestamp < TIMESTAMP '2021-09-24';
CREATE VIEW located_post AS SELECT * FROM located WHERE block_timestamp > TIMESTAMP '2021-09-24';

-- daily outflow of the cohort's inputs (as magnitudes), daily inflow to
-- everyone else, inner-merged on the day, days with outflow <= 1 dropped
CREATE MACRO cohort_days(lo, hi) AS TABLE
WITH l AS (SELECT * FROM located WHERE block_timestamp > lo AND block_timestamp < hi),
o AS (SELECT date_trunc('day', block_timestamp) AS date, sum(-val) AS outflow
      FROM l WHERE type = 'input' AND location = 'China' GROUP BY 1),
i AS (SELECT date_trunc('day', block_timestamp) AS date, sum(val) AS inflow
      FROM l WHERE type = 'output' AND location <> 'China' GROUP BY 1)
SELECT ln(o.outflow) AS x, ln(i.inflow) AS y
FROM o JOIN i USING (date) WHERE o.outflow > 1.0 AND i.inflow > 0.0;

CREATE VIEW fit_pre AS
SELECT covar_pop(y, x), var_pop(x), var_pop(y), avg(x), avg(y), count(*)
FROM cohort_days(TIMESTAMP '1970-01-01', TIMESTAMP '2021-09-24');
CREATE VIEW fit_post AS
SELECT covar_pop(y, x), var_pop(x), var_pop(y), avg(x), avg(y), count(*)
FROM cohort_days(TIMESTAMP '2021-09-24', TIMESTAMP '2100-01-01');
