-- Spark-SQL versions of part of the reference's Athena set: the T1
-- exploration query over silver and three of the seven T2 KPI queries
-- over the gold marts. A run has time for five rounds of four queries;
-- these four cover a silver scan, a whole-mart aggregate, a window
-- filter and a count(distinct).
-- Each query runs unchanged in Spark and in DuckDB. Tables are bound
-- under the names used here. ${...} literals come from the workload
-- seed. Money sums go through DECIMAL, so both engines return
-- the same exact values.

-- name: t1_exploration
WITH window_sales AS (
  SELECT affiliate, province_city, main_category_desc, amount
  FROM silver
  WHERE purchase_year = ${year} AND purchase_month = ${month}
)
SELECT affiliate, province_city, main_category_desc,
       SUM(CAST(amount AS DECIMAL(18, 2))) AS revenue,
       COUNT(*) AS n_purchases
FROM window_sales
GROUP BY affiliate, province_city, main_category_desc

-- name: t2_year_month_revenue
SELECT affiliate, purchase_year, purchase_month,
       SUM(CAST(total_purchase_amount AS DECIMAL(18, 2))) AS revenue,
       SUM(count_of_purchase) AS n_purchases
FROM mart_salesbydatetime
GROUP BY affiliate, purchase_year, purchase_month

-- name: t2_age_category_revenue
SELECT age_group, main_category_desc,
       SUM(CAST(total_purchase_amount AS DECIMAL(18, 2))) AS revenue,
       SUM(count_of_purchase) AS n_purchases
FROM mart_salesbyageproducts
WHERE purchase_year = ${year} AND purchase_month = ${month}
GROUP BY age_group, main_category_desc

-- name: t2_affiliate_customer_kpis
SELECT affiliate,
       COUNT(DISTINCT customer_id) AS n_customers,
       SUM(count_of_purchase) AS n_purchases,
       SUM(CAST(total_purchase_amount AS DECIMAL(18, 2))) AS revenue,
       SUM(count_of_purchase) / COUNT(DISTINCT customer_id)
         AS purchases_per_customer
FROM mart_salesbycustomer
WHERE purchase_year = ${year}
GROUP BY affiliate
