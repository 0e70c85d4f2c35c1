import datetime

# A1's batch-time fallback for a micro-batch with no valid row: epoch 0 as
# a UTC instant, so the host's time zone cannot move the stamp (a naive
# datetime would be read in local time by F.lit and by time.mktime alike).
EPOCH_FALLBACK = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
