-- the ten users with the highest spend, ties by user id
select user_id, n_events, n_purchases, value_cents
from {{ stats }}
order by value_cents desc, user_id asc
limit 10
